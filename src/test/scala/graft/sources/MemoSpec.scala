package graft.sources

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The on-disk memo protocol: a memo is published only by its marker,
  * a crashed build leaves nothing a later caller trusts, and one build
  * serves every thread and every JVM. */
class MemoSpec extends AnyFunSuite {

  private val tmp = new File(System.getProperty("java.io.tmpdir"))

  /** A fresh memo name; its dir and lock file are removed afterwards. */
  private def withName(tag: String)(body: String => Unit): Unit = {
    val name = s"graft_memospec_${tag}_${ProcessHandle.current().pid()}_" +
      System.nanoTime()
    try body(name)
    finally {
      Memo.rmTree(new File(tmp, name))
      new File(tmp, s"$name.lock").delete(): Unit
    }
  }

  private def write(f: File, text: String): Unit =
    Files.writeString(f.toPath, text): Unit

  private def read(f: File): String = Files.readString(f.toPath)

  test("a build that throws after writing partial files publishes " +
      "nothing; the next call rebuilds") {
    withName("throw") { name =>
      val boom = intercept[IllegalStateException] {
        Memo.publish(name) { d =>
          write(new File(d, "part-0"), "half")
          throw new IllegalStateException("crash mid-build")
        }
      }
      assert(boom.getMessage === "crash mid-build")
      assert(!new File(tmp, s"$name/_PUBLISHED").exists())
      val builds = new AtomicInteger()
      val d = Memo.publish(name) { d =>
        builds.incrementAndGet()
        write(new File(d, "part-0"), "whole")
      }
      assert(builds.get === 1)
      assert(read(new File(d, "part-0")) === "whole")
      assert(d.list().toSeq.sorted === Seq("_PUBLISHED", "part-0"))
      Memo.publish(name)(_ => builds.incrementAndGet(): Unit)
      assert(builds.get === 1, "a published memo must be reused")
    }
  }

  test("8 threads publishing one name run the build once") {
    withName("threads") { name =>
      val builds = new AtomicInteger()
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(8)
      try {
        val results = (1 to 8).map { _ =>
          pool.submit(() => {
            start.await()
            val d = Memo.publish(name) { d =>
              builds.incrementAndGet()
              Thread.sleep(200)
              write(new File(d, "rows"), "1\n2\n3\n")
            }
            read(new File(d, "rows"))
          })
        }
        start.countDown()
        assert(results.map(_.get(60, TimeUnit.SECONDS)).distinct ===
          Seq("1\n2\n3\n"))
      } finally pool.shutdownNow(): Unit
      assert(builds.get === 1)
    }
  }

  test("a second JVM publishing the same name shares one build and " +
      "reads identical rows") {
    withName("fork") { name =>
      val log = Files.createTempFile("graft_memospec_builds", ".log").toFile
      try {
        val java = new File(System.getProperty("java.home"), "bin/java")
        val child = new ProcessBuilder(java.getPath, "-cp",
          System.getProperty("java.class.path"),
          s"-Djava.io.tmpdir=${tmp.getPath}",
          "graft.sources.MemoSpecChild", name, log.getPath)
          .redirectErrorStream(true).start()
        val mine = MemoSpecChild.publishRows(name, log)
        val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
        assert(child.waitFor(120, TimeUnit.SECONDS) && child.exitValue === 0,
          s"child JVM failed:\n$out")
        val theirs = out.linesIterator.filter(_.startsWith("ROW "))
          .map(_.stripPrefix("ROW ")).toSeq
        assert(Files.readAllLines(log.toPath).asScala.count(_ == "build")
          === 1, "the memo was built more than once across two JVMs")
        assert(mine.nonEmpty && theirs === mine)
      } finally log.delete(): Unit
    }
  }

  test("a marker-less dir left at the target is cleared before the build") {
    withName("debris") { name =>
      val target = new File(tmp, name)
      target.mkdirs()
      write(new File(target, "part-stale"), "debris of a crashed build")
      val d = Memo.publish(name)(d => write(new File(d, "part-0"), "fresh"))
      assert(d.list().toSeq.sorted === Seq("_PUBLISHED", "part-0"))
    }
  }

  test("rmTree removes a symlink without following it") {
    withName("link") { name =>
      val outside = Files.createTempDirectory("graft_memospec_data").toFile
      try {
        write(new File(outside, "events.parquet"), "harness data")
        val target = new File(tmp, name)
        target.mkdirs()
        Files.createSymbolicLink(new File(target, "data").toPath,
          outside.toPath)
        Memo.rmTree(target)
        assert(!target.exists())
        assert(read(new File(outside, "events.parquet")) === "harness data")
      } finally Memo.rmTree(outside)
    }
  }
}

/** The other JVM of MemoSpec's cross-process case: publishes `name`,
  * logging each build it runs to `log`, and prints the memo's rows. */
object MemoSpecChild {

  /** Publish `name` with a slow build that logs itself and writes rows
    * tagged with the builder's pid; returns the published rows. */
  def publishRows(name: String, log: File): Seq[String] = {
    val d = Memo.publish(name) { d =>
      Files.writeString(log.toPath, "build\n",
        java.nio.file.StandardOpenOption.APPEND): Unit
      Thread.sleep(2000) // hold the lock while the other JVM arrives
      val pid = ProcessHandle.current().pid()
      Files.writeString(new File(d, "rows").toPath,
        (1 to 3).map(i => s"$pid,$i\n").mkString): Unit
    }
    Files.readAllLines(new File(d, "rows").toPath).asScala.toSeq
  }

  def main(args: Array[String]): Unit =
    publishRows(args(0), new File(args(1))).foreach(r => println(s"ROW $r"))
}
