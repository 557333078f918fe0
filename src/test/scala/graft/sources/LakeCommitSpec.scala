package graft.sources

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The one lake commit routine, [[GraftLakeIO.commitSnapshot]], on bare
  * table dirs: which conflicts it retries, which it hands back, and
  * that no failure leaves a build dir behind. */
class LakeCommitSpec extends AnyFunSuite {

  private def freshTable(): String =
    Files.createTempDirectory("graft_commit_spec").toFile.getPath

  private def builds(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).filter(_.startsWith("_build_")).toSeq

  /** Commit one version holding a marker file named `name`. */
  private def commitMarker(dir: String, name: String): Unit =
    GraftLakeIO.commitSnapshot(dir, None, "append") { (_, build) =>
      Some(Files.writeString(new File(build, name).toPath, name): Unit)
    }: Unit

  test("a rollback whose target snapshot has a corrupt _dv.json throws " +
      "and leaves no build dir and the head unchanged") {
    val dir = freshTable()
    commitMarker(dir, "a") // v1
    commitMarker(dir, "b") // v2
    Files.writeString(GraftLakeIO.dvFile(
      GraftLakeIO.versionDir(dir, 1)).toPath, "corrupt")
    intercept[Exception](GraftLakeIO.rollbackToVersion(dir, 1))
    assert(builds(dir).isEmpty, "the failed rollback left its build")
    assert(GraftLakeIO.latestVersion(dir) === 2)
    assert(!GraftLakeIO.versionDir(dir, 3).exists())
    Memo.rmTree(new File(dir))
  }

  test("a head-based fill that loses the CAS race is re-run on the " +
      "new head and publishes there") {
    val dir = freshTable()
    commitMarker(dir, "a") // v1
    val bases = Seq.newBuilder[Int]
    var first = true
    val v = GraftLakeIO.commitSnapshot(dir, None, "delete") {
      (baseV, build) =>
        bases += baseV
        if (first) { first = false; commitMarker(dir, "rival") } // v2
        Files.writeString(new File(build, "mine").toPath, s"$baseV")
        Some(baseV + 1)
    }
    assert(bases.result() === Seq(1, 2))
    assert(v === Some(3))
    assert(GraftLakeIO.latestVersion(dir) === 3)
    val v3 = GraftLakeIO.versionDir(dir, 3)
    assert(Files.readString(new File(v3, "mine").toPath) === "2")
    assert(GraftLakeIO.commitOperation(dir, 3) === "delete")
    assert(builds(dir).isEmpty)
    Memo.rmTree(new File(dir))
  }

  test("a pinned-base fill that loses the CAS race conflicts at once") {
    val dir = freshTable()
    commitMarker(dir, "a") // v1
    var runs = 0
    intercept[GraftLakeCommitConflict] {
      GraftLakeIO.commitSnapshot(dir, Some(1), "append") { (_, build) =>
        runs += 1
        commitMarker(dir, "rival") // v2
        Some(Files.writeString(new File(build, "mine").toPath, "x"): Unit)
      }
    }
    assert(runs === 1)
    assert(GraftLakeIO.latestVersion(dir) === 2)
    assert(!new File(GraftLakeIO.versionDir(dir, 2), "mine").exists())
    assert(builds(dir).isEmpty)
    Memo.rmTree(new File(dir))
  }

  test("a conflict the fill raises itself is final, even on a " +
      "head-based commit") {
    val dir = freshTable()
    commitMarker(dir, "a") // v1
    var runs = 0
    intercept[GraftLakeCommitConflict] {
      GraftLakeIO.commitSnapshot[Unit](dir, None, "delete") { (_, _) =>
        runs += 1
        throw new GraftLakeCommitConflict("the fill's own check failed")
      }
    }
    assert(runs === 1)
    assert(GraftLakeIO.latestVersion(dir) === 1)
    assert(builds(dir).isEmpty)
    Memo.rmTree(new File(dir))
  }

  test("a head-based fill that keeps losing gives up after five " +
      "retries; a declining fill commits nothing") {
    val dir = freshTable()
    commitMarker(dir, "a") // v1
    var runs = 0
    intercept[GraftLakeCommitConflict] {
      GraftLakeIO.commitSnapshot(dir, None, "append") { (_, _) =>
        runs += 1
        commitMarker(dir, s"rival$runs")
        Some(())
      }
    }
    assert(runs === 6)
    assert(GraftLakeIO.latestVersion(dir) === 7) // v1 + six rivals
    assert(GraftLakeIO.commitSnapshot(dir, None, "append") {
      (_, _) => Option.empty[Unit]
    }.isEmpty)
    assert(GraftLakeIO.latestVersion(dir) === 7)
    assert(builds(dir).isEmpty)
    Memo.rmTree(new File(dir))
  }

  test("a failing runBounded task stops its siblings before the error " +
      "propagates, so the commit routine leaves no build behind") {
    val running = new java.util.concurrent.atomic.AtomicInteger()
    // the first task fails once its sibling is under way; the sibling
    // sleeps, then runs `late`
    def tasks(late: () => Unit): Seq[() => Unit] = {
      val started = new java.util.concurrent.CountDownLatch(1)
      Seq(() => {
        started.await(5, java.util.concurrent.TimeUnit.SECONDS): Unit
        throw new IllegalStateException("part write failed")
      }, () => {
        running.incrementAndGet(): Unit
        started.countDown()
        try { Thread.sleep(1000); late() }
        finally running.decrementAndGet(): Unit
      })
    }
    intercept[Exception](GraftLakeIO.runBounded(tasks(() => ())))
    assert(running.get === 0, "a task still ran when runBounded threw")

    val dir = freshTable()
    commitMarker(dir, "a") // v1
    intercept[Exception] {
      GraftLakeIO.commitSnapshot(dir, None, "optimize") { (_, build) =>
        GraftLakeIO.runBounded(tasks { () =>
          // a straggler's part write, creating its parent dir
          Files.createDirectories(build.toPath)
          Files.writeString(new File(build, "part").toPath, "late"): Unit
        })
        Some(())
      }
    }
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (running.get > 0 && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(builds(dir).isEmpty, "a straggler task kept the build alive")
    assert(GraftLakeIO.latestVersion(dir) === 1)
    Memo.rmTree(new File(dir))
  }
}
