package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Equality-delete upsert lifecycle (`write_upsert = equality-delete`,
  * [[GraftLakeIO.readEqDel]]): last-writer-wins appends, the O(batch)
  * commit (NO target data file read), replay idempotence, the agg
  * pushdown refusal (footer counts over-state live rows), DV/CoW
  * interplay, and the `$changes` feed seeing implicit updates. */
class LakeEqUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def state(tbl: String): Map[Long, Long] =
    spark.table(tbl).select("user_id", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("appends upsert on the shard key: older versions of a key die, " +
      "untouched keys survive, the commit reads no target data file, " +
      "replay is idempotent, and count(*) resolves (no metadata " +
      "shortcut over-counting dead rows)") {
    Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_equp"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, v BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='2',
        'write_upsert'='equality-delete')""")
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("user_id", "v")
      .createOrReplaceTempView("spec_equp_b1")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_equp_b1")
    assert(state(tbl) === Map(1L -> 10L, 2L -> 20L, 3L -> 30L))

    // batch 2: update key 2, insert key 4 — ONE ordinary append
    GraftLakeScanMetrics.reset()
    Seq((2L, 22L), (4L, 44L)).toDF("user_id", "v")
      .createOrReplaceTempView("spec_equp_b2")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_equp_b2")
    assert(GraftLakeScanMetrics.planned.get() === 0L &&
      GraftLakeScanMetrics.decodedColumns.get() === 1L,
      "the upsert commit must not scan the target table — bounds " +
        "come from footers, keys from the part the commit just wrote " +
        "(one shard's part, one key column: the only decode)")
    assert(state(tbl) === Map(1L -> 10L, 2L -> 22L, 3L -> 30L,
      4L -> 44L))

    // count(*) resolves dead rows: 5 physical rows, 4 live — the
    // metadata-only aggregate pushdown must REFUSE here
    GraftLakeScanMetrics.reset()
    assert(spark.sql(s"SELECT count(*) AS n FROM $tbl")
      .head.getLong(0) === 4L)
    assert(GraftLakeScanMetrics.aggPushdowns.get() === 0L,
      "agg pushdown over an equality-delete snapshot would serve " +
        "footer counts that include dead rows")

    // replay the SAME batch (an at-least-once retry): the re-applied
    // bound kills the previous copies — state unchanged
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_equp_b2")
    assert(state(tbl) === Map(1L -> 10L, 2L -> 22L, 3L -> 30L,
      4L -> 44L))
    assert(spark.table(tbl).count() === 4L)

    // the $changes feed sees the upsert as a VALUE change, not a
    // blind append: batch 2's commit (v2) must carry 2->22 as an
    // update pair and 4 as an insert
    val ch = spark.read.option("startingVersion", "1")
      .option("endingVersion", "2")
      .table("graft_lake.lake.`spec_equp$changes`")
      .selectExpr("_change_type", "user_id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(ch === Set(("update_preimage", 2L, 20L),
      ("update_postimage", 2L, 22L), ("insert", 4L, 44L)),
      s"unexpected CDC diff: $ch")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("OPTIMIZE resolves equality deletes: the rewrite drops dead " +
      "rows physically, clears the sidecar, and metadata-only " +
      "aggregates come back") {
    Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_equp_opt"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, v BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='2',
        'write_upsert'='equality-delete')""")
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("user_id", "v")
      .createOrReplaceTempView("spec_equp_o1")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_equp_o1")
    Seq((2L, 22L), (4L, 44L)).toDF("user_id", "v")
      .createOrReplaceTempView("spec_equp_o2")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_equp_o2")
    assert(state(tbl) === Map(1L -> 10L, 2L -> 22L, 3L -> 30L,
      4L -> 44L))
    val dataDir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft_lake.path"),
      "spec_equp_opt").getPath
    val head = GraftLakeIO.versionDir(dataDir,
      GraftLakeIO.latestVersion(dataDir))
    assert(GraftLakeIO.readEqDel(head).nonEmpty, "fixture sanity")
    spark.sql(s"""CALL graft_lake.system.optimize(
      table => 'spec_equp_opt')""")
    val opt = GraftLakeIO.versionDir(dataDir,
      GraftLakeIO.latestVersion(dataDir))
    assert(GraftLakeIO.readEqDel(opt).isEmpty,
      "the rewrite must clear the equality-delete sidecar")
    // physical rows == live rows now (the dead key-2 copy is gone)
    val physical = GraftLakeIO.allShardParts(opt).values.flatten
      .map(f => GraftShardCodec.footer(f)._2).sum
    assert(physical === 4L, s"expected 4 physical rows, got $physical")
    assert(state(tbl) === Map(1L -> 10L, 2L -> 22L, 3L -> 30L,
      4L -> 44L))
    // metadata-only count(*) is legal again post-resolution
    GraftLakeScanMetrics.reset()
    assert(spark.sql(s"SELECT count(*) AS n FROM $tbl")
      .head.getLong(0) === 4L)
    assert(GraftLakeScanMetrics.aggPushdowns.get() === 1L,
      "post-OPTIMIZE the footer counts are exact — pushdown resumes")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("row-level DML composes: a CoW DELETE resolves equality " +
      "deletes in its rewrite (the entry drops with the replaced " +
      "shard), and the key upserts back afterwards") {
    Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_equp_dml"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, v BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='2',
        'write_upsert'='equality-delete')""")
    Seq((1L, 10L), (2L, 20L)).toDF("user_id", "v")
      .createOrReplaceTempView("spec_equp_d1")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_equp_d1")
    Seq((1L, 11L)).toDF("user_id", "v")
      .createOrReplaceTempView("spec_equp_d2")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_equp_d2")
    assert(state(tbl) === Map(1L -> 11L, 2L -> 20L))
    spark.sql(s"DELETE FROM $tbl WHERE user_id = 1")
    assert(state(tbl) === Map(2L -> 20L))
    Seq((1L, 12L)).toDF("user_id", "v")
      .createOrReplaceTempView("spec_equp_d3")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_equp_d3")
    assert(state(tbl) === Map(1L -> 12L, 2L -> 20L))
    // time travel still serves every historical state, eqdel-resolved
    assert(spark.sql(s"SELECT user_id, v FROM $tbl VERSION AS OF 2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 11L, 2L -> 20L))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("ALTER TABLE carries the upsert mode through the descriptor " +
      "rewrite: appends after ADD COLUMN still resolve as upserts") {
    Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_equp_alter"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, v BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='2',
        'write_upsert'='equality-delete')""")
    Seq((1L, 10L), (2L, 20L)).toDF("user_id", "v")
      .createOrReplaceTempView("spec_equp_a1")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_equp_a1")
    // the descriptor rewrite that used to silently drop upsertMode
    spark.sql(s"ALTER TABLE $tbl ADD COLUMN note STRING")
    Seq((2L, 22L, "x")).toDF("user_id", "v", "note")
      .createOrReplaceTempView("spec_equp_a2")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_equp_a2")
    assert(state(tbl) === Map(1L -> 10L, 2L -> 22L),
      "post-ALTER append must still last-writer-wins on the key")
    assert(spark.table(tbl).count() === 2L)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("a key-duplicated batch refuses at commit time (the contract " +
      "violation would otherwise silently keep every copy live)") {
    Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_equp_dup"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, v BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='2',
        'write_upsert'='equality-delete')""")
    Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("user_id", "v")
      .createOrReplaceTempView("spec_equp_dup1")
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_equp_dup1")
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ chain(x.getCause))
    assert(chain(e).exists(_.contains("key-unique")),
      s"expected the key-unique refusal, got: ${chain(e)}")
    // the refused commit must not have landed
    assert(spark.table(tbl).count() === 0L)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("composite (BIGINT, STRING) upsert keys: versions replace only " +
      "their exact composite key, the $changes diff pairs on it, " +
      "OPTIMIZE resolves it, and null key parts refuse at commit") {
    Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_equp_comp"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, kind STRING,
        v BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='2',
        'write_upsert'='equality-delete',
        'upsert_keys'='user_id,kind')""")
    def st(): Map[(Long, String), Long] =
      spark.table(tbl).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    Seq((1L, "a", 10L), (1L, "b", 11L), (2L, "a", 20L))
      .toDF("user_id", "kind", "v")
      .createOrReplaceTempView("spec_equp_c1")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_equp_c1")
    // update (1,a) only: (1,b) shares the shard AND the BIGINT key
    // half — any cross-key bleed in the composite mask kills it
    Seq((1L, "a", 12L), (3L, "a", 30L)).toDF("user_id", "kind", "v")
      .createOrReplaceTempView("spec_equp_c2")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_equp_c2")
    assert(st() === Map((1L, "a") -> 12L, (1L, "b") -> 11L,
      (2L, "a") -> 20L, (3L, "a") -> 30L))
    assert(spark.table(tbl).count() === 4L)
    // replay idempotence on the composite key
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_equp_c2")
    assert(st() === Map((1L, "a") -> 12L, (1L, "b") -> 11L,
      (2L, "a") -> 20L, (3L, "a") -> 30L))
    // CDC diff pairs images on the composite key: (1,a) is an update
    // pair, (3,a) an insert, (1,b)/(2,a) silent
    val ch = spark.read.option("startingVersion", "1")
      .option("endingVersion", "2")
      .table("graft_lake.lake.`spec_equp_comp$changes`")
      .selectExpr("_change_type", "user_id", "kind", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    assert(ch === Set(("update_preimage", 1L, "a", 10L),
      ("update_postimage", 1L, "a", 12L), ("insert", 3L, "a", 30L)),
      s"unexpected CDC diff: $ch")
    // OPTIMIZE resolves the composite dead rows physically
    spark.sql(s"""CALL graft_lake.system.optimize(
      table => 'spec_equp_comp')""")
    val dataDir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft_lake.path"),
      "spec_equp_comp").getPath
    val head = GraftLakeIO.versionDir(dataDir,
      GraftLakeIO.latestVersion(dataDir))
    assert(GraftLakeIO.readEqDel(head).isEmpty)
    assert(st() === Map((1L, "a") -> 12L, (1L, "b") -> 11L,
      (2L, "a") -> 20L, (3L, "a") -> 30L))
    // a NULL key part can never address its older version: refused
    Seq((9L, Option.empty[String], 90L)).toDF("user_id", "kind", "v")
      .createOrReplaceTempView("spec_equp_c3")
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_equp_c3")
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ chain(x.getCause))
    assert(chain(e).exists(_.contains("NULL upsert key")),
      s"expected the null-key refusal, got: ${chain(e)}")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("composite-key DDL validation: the key must include the shard " +
      "key, exist, and be integral/date/string") {
    Lake.registerCatalog(spark)
    def refuse(props: String, msg: String): Unit = {
      val e = intercept[Exception] {
        spark.sql(s"""CREATE TABLE graft_lake.lake.spec_equp_cbad
          (user_id BIGINT, kind STRING, x DOUBLE)
          TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='2',
            $props)""")
      }
      assert(e.getMessage.contains(msg), s"$props: ${e.getMessage}")
    }
    refuse("'write_upsert'='equality-delete', 'upsert_keys'='kind'",
      "must include the shard key")
    refuse("'write_upsert'='equality-delete', " +
      "'upsert_keys'='user_id,nope'", "no such column")
    refuse("'write_upsert'='equality-delete', " +
      "'upsert_keys'='user_id,x'", "must be integral/date/string")
    refuse("'upsert_keys'='user_id'",
      "requires write_upsert=equality-delete")
  }

  test("DDL validation: equality-delete upsert requires a BIGINT " +
      "shard key") {
    Lake.registerCatalog(spark)
    val e = intercept[Exception] {
      spark.sql("""CREATE TABLE graft_lake.lake.spec_equp_bad
        (user_id INT, v BIGINT)
        TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='2',
          'write_upsert'='equality-delete')""")
    }
    assert(e.getMessage.contains("BIGINT shard key"))
  }
}
