package graft

import graft.sources.GraftLakeScanMetrics

/** Skip-layer micro-bench: quantifies what each pruning layer —
  * bloom sidecars, footer-stats part pruning, z-order zone maps,
  * and partial LIMIT pushdown — saves over the unskippable baseline
  * layout at the same data scale. Prints one JSON line per
  * measurement — builder-side evidence tooling for PLANS.md, not
  * part of the driver contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *          sbt "runMain graft.BenchSkip"
  */
object BenchSkip {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = graft.sources.Tables.session(logLevel = "WARN")
    graft.sources.Lake.registerCatalog(spark)

    def timeMed(f: => Long): (Long, Double) = {
      // median of 3 (first run pays JIT/footer-memo warmup)
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = f
        (n, (System.nanoTime() - t0) / 1e9)
      }
      (runs.head._1, runs.map(_._2).sorted.apply(1))
    }
    def out(name: String, sec: Double, rows: Long,
        extra: String = ""): Unit =
      println(s"""{"skip":"$name","sec":${f"$sec%.3f"},""" +
        s""""rows":$rows$extra}""")

    // corpus: one row per (user, day) with a high-cardinality tag
    spark.sql(
      s"""SELECT user_id, CAST(dayofmonth(ts) AS BIGINT) AS dom,
            concat('u', CAST(user_id AS STRING), '-',
                   CAST(dayofmonth(ts) AS STRING)) AS tag,
            count(*) AS n_events
          FROM parquet.`$sfDir/events.parquet`
          GROUP BY 1, 2, 3""").createOrReplaceTempView("skipbench_src")
    val nSrc = spark.table("skipbench_src").count()
    println(s"""{"skip":"corpus","rows":$nSrc}""")

    def build(tbl: String, cols: String, props: String,
        select: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"""CREATE TABLE $tbl ($cols)
        TBLPROPERTIES ($props)""")
      spark.sql(s"INSERT INTO $tbl SELECT $select FROM skipbench_src")
    }

    // ---- bloom sidecar vs plain hash layout (string equality) ----
    val base = "graft_lake.lake.skipb_base"
    val bloom = "graft_lake.lake.skipb_bloom"
    val cols =
      "user_id BIGINT, dom BIGINT, tag STRING, n_events BIGINT"
    build(base, cols, "'shard_key'='user_id', 'n_shards'='32'",
      "user_id, dom, tag, n_events")
    build(bloom, cols,
      "'shard_key'='user_id', 'n_shards'='32', 'bloom_columns'='tag'",
      "user_id, dom, tag, n_events")
    // a MEDIAN tag: every shard's string zone range [minS, maxS]
    // contains it (the range layer provably cannot skip — any skip
    // below is the bloom's), unlike an extreme tag which the string
    // zone maps already prune
    val probe = spark.sql(
      s"""SELECT tag FROM skipbench_src ORDER BY tag
          LIMIT 1 OFFSET ${nSrc / 2}""").head.getString(0)
    val (n1, t1) = timeMed(spark.sql(
      s"SELECT count(*) FROM $base WHERE tag = '$probe'")
      .head.getLong(0))
    GraftLakeScanMetrics.reset()
    val (n2, t2) = timeMed(spark.sql(
      s"SELECT count(*) FROM $bloom WHERE tag = '$probe'")
      .head.getLong(0))
    out("equality_nobloom", t1, n1)
    out("equality_bloom", t2, n2,
      s""","skippedByBloom":${GraftLakeScanMetrics.skippedByBloom
        .get() / 3}""")

    // ---- part pruning: 8 banded appends, recency band read ----
    val parts = "graft_lake.lake.skipb_parts"
    spark.sql(s"DROP TABLE IF EXISTS $parts")
    spark.sql(s"""CREATE TABLE $parts (user_id BIGINT, dom BIGINT,
        n_events BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='32')""")
    (0 to 7).foreach { b =>
      spark.sql(s"""INSERT INTO $parts
        SELECT user_id, dom, n_events FROM skipbench_src
        WHERE dom % 8 = $b""")
    }
    // baseline: a modulo predicate no range stats can serve — every
    // part of every shard decodes
    val (n3, t3) = timeMed(spark.sql(
      s"SELECT count(*) FROM $parts WHERE dom % 8 = 7")
      .head.getLong(0))
    // the banded twin: dom = 30 is INSIDE every shard's zone range
    // (no shard skips) but range-provable against each part's own
    // footer stats — band b covers [b, b+24], so only bands 6 and 7
    // may hold 30
    GraftLakeScanMetrics.reset()
    val (n4, t4) = timeMed(spark.sql(
      s"SELECT count(*) FROM $parts WHERE dom = 30")
      .head.getLong(0))
    out("parts_full", t3, n3)
    out("parts_banded", t4, n4,
      s""","skippedParts":${GraftLakeScanMetrics.skippedParts
        .get() / 3}""")

    // ---- limit pushdown over the wide base table ----
    val (n5, t5) = timeMed(
      spark.sql(s"SELECT count(*) FROM (SELECT * FROM $base LIMIT 50)")
        .head.getLong(0))
    out("limit50", t5, n5)

    // ---- vectorized (columnar-batch) vs row-by-row decode ----
    // the round-14 scan lever. The skip corpora above are too small
    // for decode cost to beat fixed job overhead, so this one scans a
    // DEDICATED wide table: lineitem x4 (2.4M rows at sf0.1, strings
    // + doubles + dates), a shape where the reader, not the shuffle,
    // is the bottleneck — the 100 TB scan profile in miniature.
    val wide = "graft_lake.lake.skipb_wide"
    spark.sql(s"DROP TABLE IF EXISTS $wide")
    spark.sql(s"""CREATE TABLE $wide (l_orderkey BIGINT,
        l_partkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE,
        l_discount DOUBLE, l_returnflag STRING, l_linestatus STRING,
        l_shipdate DATE)
      TBLPROPERTIES ('shard_key'='l_orderkey', 'n_shards'='32')""")
    (0 until 4).foreach { r =>
      spark.sql(s"""INSERT INTO $wide
        SELECT l_orderkey * 4 + $r, l_partkey, l_quantity,
               l_extendedprice, l_discount, l_returnflag,
               l_linestatus, CAST(l_shipdate AS DATE)
        FROM parquet.`$sfDir/lineitem.parquet`""")
    }
    def wideScan(): Long = spark.sql(
      s"""SELECT count(*) FROM (
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS q,
                   sum(l_extendedprice * (1 - l_discount)) AS rev,
                   min(l_shipdate) AS d0, max(l_shipdate) AS d1,
                   count(DISTINCT l_partkey) AS pk
            FROM $wide GROUP BY 1, 2)""").head.getLong(0)
    spark.conf.set("spark.graft.lake.columnar", "false")
    val (n6, t6) = timeMed(wideScan())
    spark.conf.set("spark.graft.lake.columnar", "true")
    val (n7, t7) = timeMed(wideScan())
    out("widescan_row", t6, n6)
    out("widescan_columnar", t7, n7,
      s""","speedup":${f"${t6 / t7}%.2f"}""")

    // ---- LIMIT over the wide table (round 15): row-grained early
    // stop vs columnar batch-grained early stop. The columnar side
    // decodes one 4k batch per shard where the row side boxes
    // limit-many rows per shard — the A/B shows which wins at the
    // wide-projection shape the pushdown exists for. ----
    def wideLimit(): Long = spark.sql(
      s"SELECT count(*) FROM (SELECT * FROM $wide LIMIT 2000)")
      .head.getLong(0)
    spark.conf.set("spark.graft.lake.columnar", "false")
    val (n8, t8) = timeMed(wideLimit())
    spark.conf.set("spark.graft.lake.columnar", "true")
    val (n9, t9) = timeMed(wideLimit())
    out("widelimit_row", t8, n8)
    out("widelimit_columnar", t9, n9,
      s""","speedup":${f"${t8 / t9}%.2f"}""")

    spark.stop()
  }
}
