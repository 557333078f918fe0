package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The document store's versioned commit, [[GraftMongoBatchWrite]], on
  * a bare collection dir: a failed commit publishes nothing and leaves
  * no build dir behind. No Spark session. */
class MongoCommitSpec extends AnyFunSuite {

  private val declared = StructType(Seq(StructField("_id", TimestampType),
    StructField("v", LongType)))

  /** A staged part of query `q`, as a data writer would leave it. */
  private def staged(dir: String, q: String): File = {
    val stage = new File(dir, s"_stage_$q")
    stage.mkdirs()
    val f = new File(stage, "part-00000-1.parquet")
    Files.writeString(f.toPath, q)
    f
  }

  test("a commit whose staged file vanished throws, leaves no build " +
      "dir and keeps the head") {
    val dir = Files.createTempDirectory("graft_mongo_commit").toFile.getPath
    new GraftMongoBatchWrite(dir, declared, false, "q1")
      .commit(Array(GraftMongoCommit(staged(dir, "q1").getPath)))
    assert(GraftLakeIO.latestVersion(dir) === 1)
    val gone = staged(dir, "q2")
    assert(gone.delete())
    intercept[java.nio.file.NoSuchFileException] {
      new GraftMongoBatchWrite(dir, declared, false, "q2")
        .commit(Array(GraftMongoCommit(gone.getPath)))
    }
    val builds = new File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("_build_"))
    assert(builds.isEmpty, s"left behind: ${builds.mkString(", ")}")
    assert(GraftLakeIO.latestVersion(dir) === 1)
    assert(GraftMongoIO.shardFiles(dir).map(_.getName).toSeq ===
      Seq("part-v1-00000-1.parquet"))
    Memo.rmTree(new File(dir))
  }

  test("an append and then an overwrite are stamped with their " +
      "operations and rising commit times") {
    val dir = Files.createTempDirectory("graft_mongo_commit").toFile.getPath
    new GraftMongoBatchWrite(dir, declared, false, "q1")
      .commit(Array(GraftMongoCommit(staged(dir, "q1").getPath)))
    new GraftMongoBatchWrite(dir, declared, true, "q2")
      .commit(Array(GraftMongoCommit(staged(dir, "q2").getPath)))
    assert(GraftLakeIO.latestVersion(dir) === 2)
    assert(GraftLakeIO.commitOperation(dir, 1) === "append")
    assert(GraftLakeIO.commitOperation(dir, 2) === "overwrite")
    assert(GraftLakeIO.commitMicros(dir, 2) >
      GraftLakeIO.commitMicros(dir, 1))
    // the stamp counts lake shard parts only and opens no collection
    // part (the staged bytes here are not Parquet)
    assert(GraftLakeIO.commitCounts(dir, 1) === Some((0L, 0L)))
    // the overwrite carried nothing from v1
    assert(GraftMongoIO.shardFiles(dir).map(_.getName).toSeq ===
      Seq("part-v2-00000-1.parquet"))
    Memo.rmTree(new File(dir))
  }

  test("a commit whose base moved before its publish gets " +
      "GraftLakeCommitConflict and leaves no build dir") {
    val dir = Files.createTempDirectory("graft_mongo_commit").toFile.getPath
    new GraftMongoBatchWrite(dir, declared, false, "q1")
      .commit(Array(GraftMongoCommit(staged(dir, "q1").getPath)))
    val write = new GraftMongoBatchWrite(dir, declared, false, "q2")
    val msg = GraftMongoCommit(staged(dir, "q2").getPath)
    val outcome = new java.util.concurrent.CompletableFuture[Throwable]()
    // holding the table's commit lock lets the write build v2 against
    // base v1 and then parks it at the publish
    GraftLakeIO.withCommitLock(dir) {
      new Thread(() => outcome.complete(
        try { write.commit(Array(msg)); null }
        catch { case e: Throwable => e })).start()
      def built = new File(dir).listFiles().exists(d =>
        d.getName.startsWith("_build_") &&
          new File(d, "part-v2-00000-1.parquet").exists())
      val deadline = System.nanoTime() + 30000000000L
      while (!built) {
        assert(System.nanoTime() < deadline, "the write never built v2")
        Thread.sleep(5)
      }
      // a rival publishes v2 first
      assert(GraftLakeIO.versionDir(dir, 2).mkdirs())
      GraftLakeIO.publish(dir, 2)
    }
    val e = outcome.get(60, java.util.concurrent.TimeUnit.SECONDS)
    assert(e.isInstanceOf[GraftLakeCommitConflict], String.valueOf(e))
    val builds = new File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("_build_"))
    assert(builds.isEmpty, s"left behind: ${builds.mkString(", ")}")
    assert(GraftLakeIO.latestVersion(dir) === 2)
    assert(GraftMongoIO.shardFiles(dir).isEmpty) // the rival's snapshot
    Memo.rmTree(new File(dir))
  }
}
