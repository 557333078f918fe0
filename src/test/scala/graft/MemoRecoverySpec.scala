package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.sources.Tables

/** Crash recovery of on-disk memos as the queries see it: a memo dir a
  * crashed build left behind without its completion marker must be
  * rebuilt on the next call, never read as complete or tripped over.
  * Each case checks the re-run against its query's oracle SQL, run by
  * Spark over the same harness `events`. */
class MemoRecoverySpec extends SparkSpec {

  private val tmp = new File(System.getProperty("java.io.tmpdir"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** The oracle's rows, cast to the query's own output schema (the
    * oracle dialect yields TIMESTAMP where the query emits NTZ). */
  private def oracleRows(key: String, out: DataFrame): Seq[String] = {
    val ss = spark.newSession()
    Tables.events(ss, sf).createOrReplaceTempView("events")
    rows(ss.sql(SparkEntry.oracleSql(key))
      .select(out.schema.fields.map(f => col(f.name).cast(f.dataType)): _*))
  }

  /** Delete a tree without following symlinks. */
  private def deleteTree(f: File): Unit =
    if (Files.exists(f.toPath, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))

  test("stream_lake_changes re-stages its replay after a crash before " +
      "the completion marker") {
    val key = "stream_lake_changes"
    SparkEntry.queries(key)(spark, sf).collect(): Unit
    val fp = Tables.fingerprint(sf, "events")
    val staged = tmp.listFiles().filter(f => f.isDirectory &&
      f.getName.startsWith("graft_lake_cdf_replay_") &&
      f.getName.endsWith(s"_$fp"))
    assert(staged.nonEmpty, "no staged change replay found")
    // what a crash before the marker leaves: every batch file, no marker
    staged.foreach(_.listFiles().filter(_.getName.startsWith("_"))
      .foreach(_.delete()))
    val again = SparkEntry.queries(key)(spark, sf)
    assert(rows(again) === oracleRows(key, again))
  }

  test("an empty staged stream dir left by a crash is rebuilt, not read " +
      "as staged") {
    val staged = new File(tmp,
      "graft_stream_" + Tables.fingerprint(sf, "events"))
    deleteTree(staged)
    // a crash between creating the dir and linking the events into it
    staged.mkdirs()
    val key = "stream_tumbling_counts"
    val out = SparkEntry.queries(key)(spark, sf)
    assert(rows(out) === oracleRows(key, out))
  }
}
