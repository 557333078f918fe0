package graft.sources

import java.io.File

import graft.SparkSpec

/** Part-level pruning inside planned shards via parquet footer
  * statistics ([[GraftShardCodec.summary]]): an append-heavy
  * shard whose parts each cover a narrow band (the time-correlated
  * ingest shape) reads ONLY the parts the predicate can touch, while
  * `_pos` row ids and deletion-vector masking stay exact because
  * survivors keep their concatenation ordinal bases. */
class LakePartPruneSpec extends SparkSpec {

  private def lakeRoot: File = {
    Lake.registerCatalog(spark)
    new File(spark.conf.get("spark.sql.catalog.graft_lake.path"))
  }

  /** 4-shard table, three append commits, each a disjoint ts band —
    * every shard ends with 3 parts covering [0,40), [100,140),
    * [200,240). */
  private def mk(tbl: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, ts BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='4')""")
    Seq(0L, 100L, 200L).foreach { band =>
      spark.sql(s"""INSERT INTO $tbl
        SELECT id, id + $band FROM range(0, 40)""")
    }
  }

  test("a narrow ts band reads one part per shard; the other parts " +
      "never open (footer-stats part skip); shard zone maps alone " +
      "cannot serve this (merged ranges span all bands)") {
    Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_ppart"
    mk(tbl)
    val dir = new File(lakeRoot, "spec_ppart").getPath
    val v3 = GraftLakeIO.versionDir(dir, 3)
    assert(GraftLakeIO.allShardParts(v3).forall(_._2.length == 3))
    // the SHARD-level map merged all three bands -> no shard skips
    GraftLakeScanMetrics.reset()
    val got = spark.sql(s"""SELECT user_id, ts FROM $tbl
        WHERE ts BETWEEN 200 AND 239""").collect()
    assert(got.length === 40)
    assert(got.forall(r => r.getLong(1) === r.getLong(0) + 200L))
    assert(GraftLakeScanMetrics.skippedByStats.get() === 0L)
    assert(GraftLakeScanMetrics.planned.get() === 4L)
    assert(GraftLakeScanMetrics.skippedParts.get() === 8L,
      s"expected 2 skipped parts in each of 4 shards, got " +
        s"${GraftLakeScanMetrics.skippedParts.get()}")
  }

  test("_pos row ids and deletion vectors stay exact under part " +
      "pruning: survivors keep concatenation ordinal bases") {
    Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_ppart_dv"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, ts BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='4',
        'delete_mode'='merge-on-read')""")
    Seq(0L, 100L, 200L).foreach { band =>
      spark.sql(s"""INSERT INTO $tbl
        SELECT id, id + $band FROM range(0, 40)""")
    }
    // _pos of the SAME rows must be identical with and without the
    // pruning predicate (bases explicit vs dense accumulation)
    val pruned = spark.sql(s"""SELECT user_id, ts, _pos FROM $tbl
        WHERE ts BETWEEN 200 AND 239""")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val full = spark.sql(s"SELECT user_id, ts, _pos FROM $tbl")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    pruned.foreach { case (k, pos) =>
      assert(full(k) === pos, s"_pos shifted under pruning for $k")
    }
    // MoR delete rows that live in the LAST part (highest ordinals):
    // a wrong base would mask the wrong rows
    spark.sql(s"DELETE FROM $tbl WHERE ts BETWEEN 220 AND 239")
    val after = spark.sql(s"""SELECT user_id, ts FROM $tbl
        WHERE ts BETWEEN 200 AND 239""").collect()
    assert(after.length === 20)
    assert(after.forall(r => r.getLong(1) < 220L))
    // and the untouched bands are fully intact
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0)
      === 100L)
  }

  test("partial LIMIT pushdown: each partition reader stops after " +
      "the pushed row count; results and totals stay exact") {
    Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_limit"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, v BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='4')""")
    spark.sql(s"""INSERT INTO $tbl
      SELECT id, id * 2 FROM range(0, 4000)""")
    val df = spark.sql(s"SELECT user_id, v FROM $tbl LIMIT 5")
    val rows = df.collect()
    assert(rows.length === 5)
    rows.foreach(r => assert(r.getLong(1) === r.getLong(0) * 2))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("pushedLimit=5"),
      s"limit must reach the scan:\n$p")
    // a DML rewrite must NEVER see a pushed limit (every matched and
    // carried row is required) — UPDATE after the limited read stays
    // row-exact over all 4000 rows
    spark.sql(s"UPDATE $tbl SET v = -1 WHERE user_id = 7")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0)
      === 4000L)
    assert(spark.sql(s"SELECT v FROM $tbl WHERE user_id = 7")
      .head.getLong(0) === -1L)
  }

  test("a column ADDed after early parts prunes those parts on a " +
      "null-rejecting conjunct (absent-from-schema = reads as NULL)") {
    Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_ppart_add"
    mk(tbl)
    spark.sql(s"ALTER TABLE $tbl ADD COLUMN note STRING")
    spark.sql(s"""INSERT INTO $tbl
      SELECT id, id + 300, concat('n', CAST(id AS STRING))
      FROM range(0, 40)""")
    GraftLakeScanMetrics.reset()
    val got = spark.sql(
      s"SELECT user_id FROM $tbl WHERE note = 'n7'")
      .collect().map(_.getLong(0))
    assert(got.toSeq === Seq(7L))
    // every shard that survives SHARD-level skipping (the merged
    // string zone map may already prove some shards miss 'n7') must
    // still part-skip exactly its 3 pre-ADD parts — they can hold
    // only NULL note
    val planned = GraftLakeScanMetrics.planned.get()
    assert(planned >= 1L)
    assert(GraftLakeScanMetrics.skippedParts.get() === planned * 3L,
      s"each planned shard must skip its 3 pre-ADD parts: planned=" +
        s"$planned skipped=${GraftLakeScanMetrics.skippedParts.get()}")
  }
}
