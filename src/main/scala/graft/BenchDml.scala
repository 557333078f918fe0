package graft

/** DML-path micro-bench: copy-on-write vs merge-on-read row-level
  * operations, and append-commit cost vs table size (the multi-part
  * O(new data) claim). Prints one JSON line per measurement —
  * builder-side evidence tooling for PLANS.md, not part of the
  * driver contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *          sbt "runMain graft.BenchDml"
  */
object BenchDml {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = graft.sources.Tables.session(logLevel = "WARN")
    graft.sources.Lake.registerCatalog(spark)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def out(name: String, sec: Double, extra: String = ""): Unit =
      println(s"""{"dml":"$name","sec":${f"$sec%.3f"}$extra}""")

    // base: per-user event summary (~150k rows at sf1, ~15k at sf0.1)
    spark.sql(
      s"""SELECT user_id, count(*) AS n_events
          FROM parquet.`$sfDir/events.parquet`
          GROUP BY user_id""").createOrReplaceTempView("dmlbench_base")
    val nBase = spark.table("dmlbench_base").count()

    def build(tbl: String, props: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, n_events BIGINT)
        TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='32'$props)""")
      spark.sql(s"INSERT INTO $tbl SELECT * FROM dmlbench_base")
    }

    // ---- DELETE: 1/1000 of rows, every shard touched ----
    for ((mode, props) <- Seq(
      ("cow", ""), ("mor", ", 'delete_mode'='merge-on-read'"))) {
      val tbl = s"graft_lake.lake.dmlbench_del_$mode"
      build(tbl, props)
      val (_, s) = time {
        spark.sql(s"DELETE FROM $tbl WHERE user_id % 1000 = 7")
      }
      out(s"delete_1perMille_$mode", s, s""","rows":$nBase""")
      spark.sql(s"DROP TABLE $tbl")
    }

    // ---- UPDATE: 1/1000 of rows, every shard touched ----
    for ((mode, props) <- Seq(
      ("cow", ""), ("mor", ", 'update_mode'='merge-on-read'"))) {
      val tbl = s"graft_lake.lake.dmlbench_upd_$mode"
      build(tbl, props)
      val (_, s) = time {
        spark.sql(
          s"UPDATE $tbl SET n_events = -1 WHERE user_id % 1000 = 7")
      }
      out(s"update_1perMille_$mode", s)
      spark.sql(s"DROP TABLE $tbl")
    }

    // ---- APPEND commit cost vs accumulated table size ----
    // multi-part claim: the Nth small append costs the same as the
    // 1st (hardlink carry + one new part), independent of how much
    // data the shards already hold
    val tbl = "graft_lake.lake.dmlbench_app"
    build(tbl, "")
    spark.sql("""SELECT CAST(id AS BIGINT) AS user_id,
        CAST(1 AS BIGINT) AS n_events
        FROM range(256)""").createOrReplaceTempView("dmlbench_tick")
    val ticks = 12
    val secs = (1 to ticks).map { i =>
      // grow the table 2x every 3 ticks so size rises ~16x overall
      if (i % 3 == 0)
        spark.sql(s"INSERT INTO $tbl SELECT user_id + ${i * 10000000}," +
          s" n_events FROM $tbl")
      val (_, s) = time {
        spark.sql(s"INSERT INTO $tbl SELECT user_id + ${i * 1000000}," +
          " n_events FROM dmlbench_tick")
      }
      s
    }
    val rowsEnd = spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0)
    out("append_256rows_first3", secs.take(3).sum / 3,
      s""","rows_start":$nBase""")
    out("append_256rows_last3", secs.takeRight(3).sum / 3,
      s""","rows_end":$rowsEnd""")
    spark.sql(s"DROP TABLE $tbl")
    spark.stop()
  }
}
