package graft.sources

import org.apache.spark.sql.execution.ColumnarToRowExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Vectorized lake reads ([[GraftLakeColumnarPartitionReader]]):
  * lake scans must plan COLUMNAR (batches consumed via ColumnarToRow
  * inside whole-stage codegen — the scan-throughput contract at
  * 100 TB), projection-empty reads must stay footer-served, and
  * DV/equality-delete masking must stay EXACT through batch
  * compaction — including dead rows scattered across vectorized-batch
  * boundaries, which the tiny existing fixtures never cross. */
class LakeColumnarSpec extends SparkSpec {
  import spark.implicits._

  private def executed(df: org.apache.spark.sql.DataFrame) = {
    df.collect() // finalize AQE
    df.queryExecution.executedPlan
  }

  private def hasColumnarLakeScan(
      df: org.apache.spark.sql.DataFrame): Boolean = {
    val plan = executed(df)
    val flat = plan.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }.flatMap(_.collect { case p => p })
    flat.exists {
      case c: ColumnarToRowExec =>
        c.child.toString.contains("GraftLakeScan")
      case _ => false
    }
  }

  test("a plain lake read plans columnar batches (ColumnarToRow over " +
      "the lake scan); LIMIT-pushed reads are columnar WITH early " +
      "stop; count(*) stays footer-served") {
    Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_colnar"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, v BIGINT,
      name STRING)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='2')""")
    (0L until 100L).map(i => (i, i * 2, s"u$i")).toDF(
      "user_id", "v", "name").createOrReplaceTempView("spec_colnar_src")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_colnar_src")

    assert(hasColumnarLakeScan(
      spark.table(tbl).filter(col("v") > 10)),
      "plain projected+filtered lake read must decode columnar")

    // LIMIT pushdown rides the vectorized path (round 15): columnar
    // decode, batch-grained early stop, Spark's retained limit trims
    val lim = spark.sql(s"SELECT user_id FROM $tbl LIMIT 3")
    assert(lim.collect().length === 3)
    assert(hasColumnarLakeScan(
      spark.sql(s"SELECT user_id FROM $tbl LIMIT 3")),
      "LIMIT-pushed lake reads must decode columnar")

    // count(*) stays footer-served (agg pushdown, or the reader's
    // metadata-only parts when pushdown is off): zero data pages
    GraftLakeScanMetrics.reset()
    assert(spark.table(tbl).count() === 100L)
    assert(GraftLakeScanMetrics.aggPushdowns.get() > 0L ||
      GraftLakeScanMetrics.metadataOnlyReads.get() > 0L,
      "count(*) must stay footer-served, not decode batches")
    assert(GraftLakeScanMetrics.decodedColumns.get() === 0L,
      "count(*) must not decode any column")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("LIMIT early stop is batch-grained: a pushed LIMIT over a " +
      "multi-batch shard decodes one batch per partition, not the " +
      "shard") {
    Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_colnar_lim"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, v BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='2')""")
    // 40k rows -> ~5 four-k batches per shard
    (0L until 40000L).map(i => (i, i)).toDF("user_id", "v")
      .createOrReplaceTempView("spec_colnar_lim_src")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_colnar_lim_src")

    GraftLakeScanMetrics.reset()
    assert(spark.sql(s"SELECT v FROM $tbl LIMIT 5")
      .collect().length === 5)
    val limBatches = GraftLakeScanMetrics.batchesDecoded.get()
    assert(limBatches <= 2L, // one batch per shard partition at most
      s"LIMIT 5 decoded $limBatches batches — early stop not firing")

    GraftLakeScanMetrics.reset()
    assert(spark.sql(s"SELECT v FROM $tbl WHERE v >= 0")
      .collect().length === 40000)
    val fullBatches = GraftLakeScanMetrics.batchesDecoded.get()
    assert(fullBatches >= 10L, // ~5 per shard
      s"full scan decoded only $fullBatches batches?")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("masking stays exact through batch compaction: deletes and " +
      "equality-dead rows scattered across 4096-row batch boundaries, " +
      "schema-evolved parts served as null vectors") {
    Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_colnar_mask"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, v BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='2',
        'delete_mode'='merge-on-read',
        'write_upsert'='equality-delete')""")
    val n = 10000L
    (0L until n).map(i => (i, i)).toDF("user_id", "v")
      .createOrReplaceTempView("spec_colnar_m1")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_colnar_m1")
    // upsert a scattered 10% (every 10th key) — equality-dead rows in
    // every vectorized batch of the base part
    (0L until n by 10L).map(i => (i, i + 1000000L)).toDF("user_id", "v")
      .createOrReplaceTempView("spec_colnar_m2")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_colnar_m2")
    // MoR DELETE a scattered 5% (every 20th key) — DV positions in
    // both the base part and the upsert part
    spark.sql(s"DELETE FROM $tbl WHERE user_id % 20 = 0")
    // schema evolution: new column, old parts serve constant nulls
    spark.sql(s"ALTER TABLE $tbl ADD COLUMN tag STRING")
    Seq((1L, 7L, "x")).toDF("user_id", "v", "tag")
      .createOrReplaceTempView("spec_colnar_m3")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM spec_colnar_m3")

    val df = spark.table(tbl)
    assert(hasColumnarLakeScan(df.filter(col("v") >= 0)),
      "the masked read must still be columnar (selection-vector " +
        "compaction, not a row fallback)")
    // exact recompute: every key not deleted; %10 keys (minus deleted)
    // upserted; key 1 re-upserted with the tag
    val expect = (0L until n).filterNot(_ % 20 == 0).map { i =>
      if (i == 1L) (i, 7L, "x")
      else if (i % 10 == 0) (i, i + 1000000L, null)
      else (i, i, null)
    }.toSet
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(got.size === expect.size, s"${got.size} vs ${expect.size}")
    assert(got === expect)
    spark.sql(s"DROP TABLE $tbl")
  }

  /** Each row as comparable values: doubles by their bits, so NaN
    * equals NaN and -0.0 differs from 0.0. */
  private def canon(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.toSeq.map(_.toSeq.map {
      case d: Double => s"d${java.lang.Double.doubleToLongBits(d)}"
      case null => "null"
      case v => s"${v.getClass.getSimpleName}:$v"
    }.mkString("|")).sorted

  private val typedRows = """SELECT id AS user_id,
      CASE WHEN id % 11 = 0 THEN NULL
        ELSE CAST(id * 7 % 1000 - 500 AS INT) END AS i,
      CASE WHEN id % 13 = 0 THEN NULL
        ELSE date_add(DATE '1960-01-01', CAST(id * 37 % 40000 AS INT))
        END AS d,
      CASE id % 9 WHEN 0 THEN double('NaN') WHEN 1 THEN double('0.0')
        WHEN 2 THEN double('-0.0') WHEN 3 THEN NULL
        WHEN 4 THEN double('Infinity') WHEN 5 THEN double('-Infinity')
        ELSE CAST(id AS DOUBLE) / 7 END AS x,
      CASE id % 5 WHEN 0 THEN NULL WHEN 1 THEN ''
        WHEN 2 THEN concat('héllo 世界 😀 ', id)
        ELSE CAST(id AS STRING) END AS s,
      CASE WHEN id % 17 = 0 THEN NULL
        ELSE timestamp_micros(id * 86400000123 - 2000000000000000) END
        AS ts,
      CASE id % 3 WHEN 0 THEN NULL ELSE id % 2 = 0 END AS b"""

  test("the columnar path returns Spark SQL's rows for the same " +
      "source: every lake type (NaN, ±0.0, infinities, nulls), " +
      "equality-deleted and DV-masked shards, and parts predating an " +
      "ADD COLUMN") {
    Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_colnar_eq"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, i INT, d DATE,
      x DOUBLE, s STRING, ts TIMESTAMP, b BOOLEAN)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='2',
        'delete_mode'='merge-on-read',
        'write_upsert'='equality-delete')""")
    val reads = Seq(
      s"SELECT * FROM $tbl",
      s"SELECT x, s, b FROM $tbl", // upsert key decoded, projected out
      s"SELECT user_id, d, ts FROM $tbl WHERE i > 0")
    // the table's expected content, computed by plain Spark SQL from
    // the same source rows: each read runs over it in place of the table
    var reference = s"($typedRows FROM range(10000))"
    def sameAsReference(state: String): Unit = reads.foreach { q =>
      val col = spark.sql(q)
      assert(hasColumnarLakeScan(col), s"$state: $q must decode columnar")
      val got = canon(col.collect())
      assert(got.nonEmpty)
      assert(got === canon(spark.sql(q.replace(tbl, s"$reference r"))
        .collect()), s"$state: $q")
    }

    spark.sql(s"INSERT INTO $tbl $typedRows FROM range(10000)")
    sameAsReference("typed")
    // upsert every 10th key: older versions die by equality delete
    spark.sql(s"""INSERT INTO $tbl SELECT user_id, i + 1, d, x, s, ts, b
      FROM ($typedRows FROM range(0, 10000, 10))""")
    reference = s"""(SELECT user_id,
      CASE WHEN user_id % 10 = 0 THEN i + 1 ELSE i END AS i, d, x, s, ts, b
      FROM $reference u)"""
    sameAsReference("equality-deleted")
    // merge-on-read DELETE: deletion-vector positions in every part
    spark.sql(s"DELETE FROM $tbl WHERE user_id % 20 = 3")
    reference = s"(SELECT * FROM $reference m WHERE user_id % 20 != 3)"
    sameAsReference("DV-masked")
    spark.sql(s"ALTER TABLE $tbl ADD COLUMN tag STRING")
    spark.sql(s"""INSERT INTO $tbl SELECT *, concat('t', user_id) FROM
      ($typedRows FROM range(10000, 10100))""")
    reference = s"""(SELECT *, CAST(NULL AS STRING) AS tag FROM $reference o
      UNION ALL SELECT *, concat('t', user_id) AS tag
      FROM ($typedRows FROM range(10000, 10100)) n)"""
    sameAsReference("evolved")
    assert(spark.sql(s"SELECT count(tag) FROM $tbl").head().getLong(0) ===
      100L, "parts predating ADD COLUMN serve NULL tags")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("8 threads reading different projections of one table at " +
      "once each get their single-threaded answer; the shared Hadoop " +
      "conf stays untouched") {
    Lake.registerCatalog(spark)
    val tbl = "graft_lake.lake.spec_colnar_conc"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (user_id BIGINT, i INT, d DATE,
      x DOUBLE, s STRING, ts TIMESTAMP, b BOOLEAN)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='4')""")
    // three appends: several parts per shard
    Seq(0 -> 3000, 3000 -> 6000, 6000 -> 9000).foreach { case (lo, hi) =>
      spark.sql(s"INSERT INTO $tbl $typedRows FROM range($lo, $hi)")
    }
    val projections = Seq(Seq("user_id"), Seq("i"), Seq("d", "x"),
      Seq("s"), Seq("ts", "b"), Seq("x", "s", "i"), Seq("b", "user_id"),
      Seq("user_id", "i", "d", "x", "s", "ts", "b"))
    def read(cols: Seq[String]) = {
      val df = spark.table(tbl).select(cols.map(col): _*)
      assert(hasColumnarLakeScan(df), s"$cols must decode columnar")
      canon(df.collect())
    }
    val expect = projections.map(read)
    val shared = GraftShardCodec.conf
    def snapshot(c: org.apache.hadoop.conf.Configuration)
        : Map[String, String] = {
      val m = Map.newBuilder[String, String]
      c.forEach(e => m += e.getKey -> e.getValue)
      m.result()
    }
    val before = snapshot(shared)
    // the single-threaded reads memoized one reader conf per requested
    // row schema; the concurrent reads share them
    val memoized = GraftShardCodec.memoizedVectorizedConfs
    assert(memoized.nonEmpty)
    val memoBefore = memoized.map(snapshot)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = projections.map { cols =>
        pool.submit(new java.util.concurrent.Callable[Seq[Seq[String]]] {
          override def call(): Seq[Seq[String]] = (1 to 3).map(_ => read(cols))
        })
      }
      futures.zip(projections).zip(expect).foreach {
        case ((f, cols), want) =>
          f.get().foreach(got => assert(got === want, s"$cols"))
      }
    } finally pool.shutdown()
    assert(shared.get(org.apache.spark.sql.execution.datasources.parquet
      .ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA) === null)
    assert(shared.get(org.apache.parquet.hadoop.api.ReadSupport
      .PARQUET_READ_SCHEMA) === null)
    assert(snapshot(shared) === before, "a read mutated the shared conf")
    assert(memoized.map(snapshot) === memoBefore,
      "a read mutated a memoized reader conf")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("parts are written CORRECTED under a LEGACY datetime rebase " +
      "session: pre-Gregorian dates and timestamps read back equal " +
      "from a lake INSERT, its sort rewrite and a created collection") {
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "LEGACY")
    Lake.registerCatalog(s)
    Mongo.registerCatalog(s, sf)
    val tbl = "graft_lake.lake.spec_colnar_rebase"
    val coll = "graft_mongo.weather.spec_colnar_rebase"
    Seq(tbl, coll).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    s.sql(s"""CREATE TABLE $tbl (id BIGINT, d DATE, ts TIMESTAMP)
      TBLPROPERTIES ('shard_key'='id', 'n_shards'='1')""")
    s.sql(s"CREATE TABLE $coll (_id TIMESTAMP, id BIGINT)")
    val ts = "1000-01-01 12:34:56.789012"
    // two appends: two parts for the sort rewrite to merge
    s.sql(s"INSERT INTO $tbl VALUES (2, DATE '1000-01-01', " +
      s"TIMESTAMP '$ts')")
    s.sql(s"INSERT INTO $tbl VALUES (1, DATE '1500-02-28', " +
      s"TIMESTAMP '1582-10-04 23:59:59')")
    // a collection has no DATE type (a BSON date is a TIMESTAMP): the
    // date lands as its midnight
    s.sql(s"INSERT INTO $coll VALUES (TIMESTAMP '$ts', 2), " +
      "(CAST(DATE '1000-01-01' AS TIMESTAMP), 1)")
    def lake(): Seq[String] = s.sql(s"SELECT CAST(d AS STRING), " +
      s"CAST(ts AS STRING) FROM $tbl ORDER BY id").collect()
      .toSeq.flatMap(r => Seq(r.getString(0), r.getString(1)))
    val want = Seq("1500-02-28", "1582-10-04 23:59:59", "1000-01-01", ts)
    assert(lake() === want)
    // the sort rewrite writes on the driver, outside any task
    assert(s.sql("""CALL graft_lake.system.rewrite_sorted(
      table => 'spec_colnar_rebase')""").head.getInt(0) === 1)
    assert(lake() === want, "after the sort rewrite")
    assert(s.sql(s"SELECT CAST(_id AS STRING) FROM $coll ORDER BY id")
      .collect().map(_.getString(0)).toSeq ===
      Seq("1000-01-01 00:00:00", ts))
    Seq(tbl, coll).foreach(t => s.sql(s"DROP TABLE $t"))
  }
}
