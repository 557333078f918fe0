package graft.sources

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.SparkSpec

/** The hand-written DSv2 connector stack (GraftMongoCatalog →
  * GraftMongoTable → pruned scan → partition readers) serving the
  * schemadef-declared weatherny collection from the extended-JSON
  * document store. */
class MongoCatalogSpec extends SparkSpec {

  test("SHOW CATALOGS lists all three real catalogs") {
    Mongo.registerCatalog(spark, sf)
    Jdbc.registerCatalog(spark, sf)
    val cats = spark.sql("SHOW CATALOGS").collect().map(_.getString(0)).toSet
    assert(Set("graft_mongo", "graft_jdbc", "spark_catalog")
      .subsetOf(cats), s"incomplete: $cats")
  }

  test("scan schema is the schemadef declaration; column pruning " +
      "reaches the partition readers") {
    Mongo.registerCatalog(spark, sf)
    val full = spark.table("graft_mongo.weather.weatherny")
    assert(full.schema.fieldNames.toSeq ===
      Seq("_id", "awnd", "pgtm", "prcp", "snow", "snwd", "tavg",
        "tmax", "tmin"))
    // a single-column projection must prune at the SCAN, not post-hoc:
    // the reader then never parses the other eight measures
    val one = spark.sql("SELECT tavg FROM graft_mongo.weather.weatherny")
    val scans = one.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    assert(scans.nonEmpty, one.queryExecution.executedPlan.toString)
    assert(scans.head.scan.readSchema().fieldNames.toSeq === Seq("tavg"),
      s"pruning did not reach the scan: ${scans.head.scan.description()}")
    assert(one.collect().length === 30) // 30 event days
  }

  test("documents decode: midnight-UTC $date ids, deterministic " +
      "measures; a small sharded store plans as one partition") {
    Mongo.registerCatalog(spark, sf)
    val rows = spark.sql(
      """SELECT _id, pgtm, tmax, tmin
         FROM graft_mongo.weather.weatherny ORDER BY _id""").collect()
    assert(rows.length === 30)
    rows.foreach { r =>
      val ts = r.getTimestamp(0).toInstant
      assert(ts.toString.endsWith("T00:00:00Z"), s"not midnight UTC: $ts")
      // count / max / min of user ids are integers carried as doubles
      Seq(1, 2, 3).foreach { i =>
        val v = r.getDouble(i)
        assert(v === math.rint(v) && v >= 0)
      }
      assert(r.getDouble(1) > 0) // every day has events
    }
    // the store is sharded on disk, but the whole collection costs
    // less than opening one file: one partition reads every shard
    val shards = GraftMongoIO.shardFiles(new java.io.File(
      spark.conf.get("spark.sql.catalog.graft_mongo.path"),
      "weatherny").getPath)
    assert(shards.length > 1)
    assert(spark.table("graft_mongo.weather.weatherny")
      .rdd.getNumPartitions === 1)
    // below the collection's size, each shard is its own partition
    val small = spark.newSession()
    Mongo.registerCatalog(small, sf)
    small.conf.set("spark.sql.files.openCostInBytes",
      (shards.map(_.length).sum - 1).toString)
    assert(small.table("graft_mongo.weather.weatherny")
      .rdd.getNumPartitions === shards.length)
  }

  test("_id range predicates push into the scan with no residual " +
      "Filter; unsupported predicates stay residual") {
    Mongo.registerCatalog(spark, sf)
    val pushed = spark.sql(
      """SELECT tavg FROM graft_mongo.weather.weatherny
         WHERE _id >= TIMESTAMP '1995-01-10 00:00:00'
           AND _id <  TIMESTAMP '1995-01-20 00:00:00'""")
    val scan = pushed.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }.head.scan
    assert(scan.description().contains("GreaterThanOrEqual(_id") &&
      scan.description().contains("LessThan(_id"), scan.description())
    // exact pushdown: Spark plans no post-scan Filter at all
    val residualFilters = pushed.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }
    assert(residualFilters.isEmpty,
      pushed.queryExecution.executedPlan.toString)
    assert(pushed.collect().length === 10) // Jan 10..19
    // a measure predicate is NOT absorbed: it must stay a residual
    // Filter and still evaluate correctly above the scan
    val mixed = spark.sql(
      """SELECT tavg FROM graft_mongo.weather.weatherny
         WHERE _id >= TIMESTAMP '1995-01-10 00:00:00' AND tavg > 0""")
    assert(mixed.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }.nonEmpty, mixed.queryExecution.executedPlan.toString)
    assert(mixed.collect().nonEmpty)
  }

  test("the demo collection stays immutable: drop and write are " +
      "refused; namespace DDL is refused") {
    Mongo.registerCatalog(spark, sf)
    def msgs(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("|")
    val drop = intercept[Throwable] {
      spark.sql("DROP TABLE graft_mongo.weather.weatherny")
    }
    assert(msgs(drop).contains("unsupported"), msgs(drop))
    val ins = intercept[Throwable] {
      spark.sql(
        """INSERT INTO graft_mongo.weather.weatherny
           SELECT TIMESTAMP '1995-01-01 00:00:00', 0D, 0D, 0D, 0D, 0D,
                  0D, 0D, 0D""")
    }
    assert(msgs(ins).toLowerCase.contains("append") ||
      msgs(ins).toLowerCase.contains("write"), msgs(ins))
    val cns = intercept[Throwable] {
      spark.sql("CREATE NAMESPACE graft_mongo.stocks")
    }
    assert(msgs(cns).contains("unsupported"), msgs(cns))
  }

  test("write path: CREATE + INSERT round-trips value-exact, OVERWRITE " +
      "truncates, shards are per-task files, DROP removes the " +
      "collection and its descriptor") {
    Mongo.registerCatalog(spark, sf)
    spark.sql("DROP TABLE IF EXISTS graft_mongo.weather.spec_rt")
    spark.sql(
      """CREATE TABLE graft_mongo.weather.spec_rt
         (_id TIMESTAMP, label STRING, qty BIGINT, price DOUBLE,
          flag BOOLEAN)""")
    // the created collection is visible and empty
    assert(spark.sql("SHOW TABLES IN graft_mongo.weather").collect()
      .map(_.getString(1)).contains("spec_rt"))
    assert(spark.table("graft_mongo.weather.spec_rt").count() === 0L)
    // append with every declared type incl. a NULL (absent-field wire
    // form) and a timestamp below second precision
    spark.sql(
      """INSERT INTO graft_mongo.weather.spec_rt VALUES
         (TIMESTAMP '1995-01-02 03:04:05.123456', 'a', 7, 1.25, true),
         (TIMESTAMP '1995-01-03 00:00:00', NULL, -2, -0.5, false)""")
    val got = spark.table("graft_mongo.weather.spec_rt")
      .orderBy("_id").collect()
    assert(got.length === 2)
    assert(got(0).getAs[java.sql.Timestamp](0).toInstant ===
      java.time.Instant.parse("1995-01-02T03:04:05.123456Z"))
    assert(got(0).getString(1) === "a" && got(0).getLong(2) === 7L &&
      got(0).getDouble(3) === 1.25 && got(0).getBoolean(4))
    assert(got(1).isNullAt(1) && got(1).getLong(2) === -2L &&
      got(1).getDouble(3) === -0.5 && !got(1).getBoolean(4))
    // OVERWRITE truncates: the previous two rows are gone
    spark.sql(
      """INSERT OVERWRITE graft_mongo.weather.spec_rt VALUES
         (TIMESTAMP '1996-06-06 00:00:00', 'z', 1, 2.0, false)""")
    val after = spark.table("graft_mongo.weather.spec_rt").collect()
    assert(after.length === 1 && after(0).getString(1) === "z")
    // storage layout: versioned snapshot dirs behind the _latest
    // pointer, per-task part- shards inside, no stage leftovers at
    // the root. Extended JSON is the WIRE format (the demo fixture
    // and ingest), but connector-written shards persist COLUMNAR
    // parquet — the wire/page split a real document store makes
    val dataDir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft_mongo.path"), "spec_rt")
    val rootFiles = Option(dataDir.listFiles()).getOrElse(Array.empty)
    assert(rootFiles.forall(f =>
      f.getName == "_latest" || f.getName == "_commit.lock" ||
        f.getName.matches("v\\d+")),
      rootFiles.map(_.getName).mkString(","))
    val files = GraftMongoIO.shardFiles(dataDir.getPath)
    assert(files.nonEmpty && files.forall(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")),
      files.map(_.getName).mkString(","))
    // the shard really is parquet, with _id as annotated INT64 micros
    // (the decoded form of the wire `$date`)
    val (fsch, _) = GraftShardCodec.footer(files.head)
    assert(fsch.containsField("_id") && fsch.containsField("label"))
    // while the DEMO fixture stays extended-JSON text on disk (the
    // wire dump the reference's fillMongoDB.ipynb stages)
    val demo = GraftMongoIO.shardFiles(new java.io.File(
      spark.conf.get("spark.sql.catalog.graft_mongo.path"),
      "weatherny").getPath)
    val line = scala.io.Source.fromFile(demo.head)
    try assert(line.getLines().next().contains("\"$date\""))
    finally line.close()
    // table-level atomicity evidence: the OVERWRITE published a NEW
    // snapshot and the prior version's shards are still intact — a
    // reader that resolved the pointer pre-commit kept a full view
    val v1 = GraftLakeIO.versionDir(dataDir.getPath, 1)
    assert(Option(v1.listFiles()).getOrElse(Array.empty)
      .exists(_.getName.startsWith("part-")),
      "pre-overwrite snapshot was mutated by the commit")
    // and the history is queryable: VERSION AS OF 1 shows the
    // pre-overwrite rows, v0 the empty collection, the demo refuses
    val travel = spark.sql(
      "SELECT * FROM graft_mongo.weather.spec_rt VERSION AS OF 1")
      .collect()
    assert(travel.length === 2 &&
      travel.map(_.getString(1)).toSet === Set("a", null))
    assert(spark.sql(
      "SELECT * FROM graft_mongo.weather.spec_rt VERSION AS OF 0")
      .count() === 0)
    intercept[Exception] {
      spark.sql(
        "SELECT * FROM graft_mongo.weather.weatherny VERSION AS OF 1")
        .collect()
    }
    // DROP removes data dir + descriptor; the table disappears
    spark.sql("DROP TABLE graft_mongo.weather.spec_rt")
    assert(!dataDir.exists())
    assert(!spark.sql("SHOW TABLES IN graft_mongo.weather").collect()
      .map(_.getString(1)).contains("spec_rt"))
  }

  test("columnar collection reads decode only the requested columns; " +
      "count(*) is footer-metadata-only; pushed _id bounds apply " +
      "before measures materialize") {
    Mongo.registerCatalog(spark, sf)
    spark.sql("DROP TABLE IF EXISTS graft_mongo.weather.spec_prune")
    spark.sql(
      """CREATE TABLE graft_mongo.weather.spec_prune
         (_id TIMESTAMP, a BIGINT, b DOUBLE, c STRING)""")
    spark.sql(
      """INSERT INTO graft_mongo.weather.spec_prune VALUES
         (TIMESTAMP '1995-01-02 00:00:00', 1, 1.5, 'x'),
         (TIMESTAMP '1995-01-03 00:00:00', 2, 2.5, 'y'),
         (TIMESTAMP '1995-01-04 00:00:00', 3, 3.5, 'z')""")
    val nShards = GraftMongoIO.shardFiles(new java.io.File(
      spark.conf.get("spark.sql.catalog.graft_mongo.path"),
      "spec_prune").getPath).length
    // 1-of-4-column projection: one decoded column per shard
    GraftMongoScanMetrics.reset()
    assert(spark.sql(
      "SELECT a FROM graft_mongo.weather.spec_prune").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    assert(GraftMongoScanMetrics.decodedColumns.get() ===
      nShards.toLong,
      s"expected $nShards x 1 column, got " +
        s"${GraftMongoScanMetrics.decodedColumns.get()}")
    // count(*): zero columns decoded, footer counts only
    GraftMongoScanMetrics.reset()
    assert(spark.sql(
      "SELECT count(*) FROM graft_mongo.weather.spec_prune")
      .head.getLong(0) === 3L)
    assert(GraftMongoScanMetrics.decodedColumns.get() === 0L &&
      GraftMongoScanMetrics.metadataOnlyReads.get() ===
        nShards.toLong)
    // pushed _id bounds: only _id + the requested column decode, and
    // the bound filters exactly
    GraftMongoScanMetrics.reset()
    val r = spark.sql(
      """SELECT a FROM graft_mongo.weather.spec_prune
         WHERE _id >= TIMESTAMP '1995-01-03 00:00:00'
           AND _id < TIMESTAMP '1995-01-05 00:00:00'""").collect()
    assert(r.map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    assert(GraftMongoScanMetrics.decodedColumns.get() ===
      2L * nShards, "expected _id + a per shard")
    spark.sql("DROP TABLE graft_mongo.weather.spec_prune")
  }

  test("tri-catalog cross-type join (timestamp _id = DATE) lands rows") {
    val out = Mongo.q1TriCatalog(spark, sf).collect()
    assert(out.nonEmpty, "calendar alignment produced an empty join")
    out.foreach { r =>
      val day = r.getDate(0)
      assert(day.toString >= "1995-01-02" && day.toString <= "1995-01-31")
      assert(r.getLong(2) >= r.getLong(3)) // n_lines >= n_orders
    }
  }

  test("aggregates are NOT pushed into the document scan (negative " +
      "twin of jdbc_agg_pushdown): Spark aggregates, result correct") {
    Mongo.registerCatalog(spark, sf)
    // the connector implements filter + column pushdown only — a
    // GROUP BY must therefore plan as scan(pruned) → Spark aggregate,
    // never a one-row-per-group scan like the JDBC side
    val agg = spark.sql(
      """SELECT count(*) AS n, min(tavg) AS mn, max(tavg) AS mx
         FROM graft_mongo.weather.weatherny
         WHERE _id >= TIMESTAMP '1995-01-10 00:00:00'""")
    // sparkPlan, not executedPlan: AQE wraps the executed plan in
    // AdaptiveSparkPlanExec whose inner stages aren't tree-collectable
    val plan = agg.queryExecution.sparkPlan
    val scan = plan.collect { case b: BatchScanExec => b }.head.scan
    // the scan surface carries the pushed filter but NO aggregate —
    // it still reads the raw measure column for Spark to aggregate
    assert(!scan.description().toLowerCase.contains("aggregate"),
      scan.description())
    assert(scan.readSchema().fieldNames.contains("tavg"),
      s"scan must feed raw tavg to the engine: ${scan.description()}")
    assert(plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate
          .ObjectHashAggregateExec => a
    }.nonEmpty, "no engine-side aggregate in the plan")
    // residual correctness: identical to aggregating the plain scan
    val r = agg.collect().head
    val base = spark.table("graft_mongo.weather.weatherny")
      .filter("_id >= TIMESTAMP '1995-01-10 00:00:00'")
      .selectExpr("tavg").collect().map(_.getDouble(0))
    assert(r.getLong(0) === base.length.toLong)
    assert(r.getDouble(1) === base.min && r.getDouble(2) === base.max)
  }

  test("LIMIT is NOT pushed into the document scan (the Derby " +
      "empty-LIMIT lesson, negative side): Spark applies the limit") {
    Mongo.registerCatalog(spark, sf)
    val lim = spark.sql(
      "SELECT _id, tavg FROM graft_mongo.weather.weatherny LIMIT 7")
    val scan = lim.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }.head.scan
    assert(!scan.description().toLowerCase.contains("limit"),
      scan.description())
    // Spark keeps its own limit operator and it actually binds
    assert(lim.queryExecution.executedPlan.toString.contains("Limit"),
      lim.queryExecution.executedPlan.toString)
    assert(lim.collect().length === 7)
  }
}
