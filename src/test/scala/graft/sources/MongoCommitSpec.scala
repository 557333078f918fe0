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
}
