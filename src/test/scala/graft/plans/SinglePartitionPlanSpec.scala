package graft.plans

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}

import graft.{SparkEntry, SparkSpec}
import graft.sources.{Jdbc, Lake, Mongo, Tables}

/** [[SinglePartitionScans]]: a small one-partition DSv2 scan plans as
  * `SinglePartition`, so the DISTINCT / ORDER BY / join above it needs
  * no exchange. Positive cases check rows against the query's oracle
  * SQL (or the same statement over the harness parquet), run by Spark;
  * negative cases check that no `CoalesceExec` was added — the
  * strategy returns Spark's own plan unchanged whenever it does not
  * wrap. */
class SinglePartitionPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Own session: the negative cases change SQL conf, which the shared
    * session would leak into concurrently running suites. */
  private lazy val ss: SparkSession = {
    val n = spark.newSession()
    Mongo.registerCatalog(n, sf)
    Jdbc.registerCatalog(n, sf)
    Lake.registerCatalog(n)
    // the paper's re-sent Kafka topics, as the federated workload
    // defines them over the document and JDBC connectors
    n.sql("""CREATE OR REPLACE TEMPORARY VIEW trinoweather AS
      SELECT CAST(r.sent AS BIGINT) AS sent, CAST(w._id AS DATE) AS day,
        awnd, pgtm, prcp, snow, snwd, tavg, tmax, tmin
      FROM graft_mongo.weather.weatherny w
      CROSS JOIN (SELECT explode(sequence(1, 3)) AS sent) r""")
    n
  }

  /** The same weather topic from the DuckDB oracle's own recomputation
    * over the harness `events` parquet (no DSv2 scan involved). */
  private lazy val oracle: SparkSession = {
    val n = spark.newSession()
    Tables.events(n, sf).createOrReplaceTempView("events")
    Seq("orders", "lineitem").foreach(t =>
      Tables.t(n, sf, t).createOrReplaceTempView(t))
    n.sql(SparkEntry.oracleSql("mongo_catalog_scan"))
      .createOrReplaceTempView("weather")
    n.sql("""CREATE OR REPLACE TEMPORARY VIEW trinoweather AS
      SELECT CAST(r.sent AS BIGINT) AS sent, day,
        awnd, pgtm, prcp, snow, snwd, tavg, tmax, tmin
      FROM weather CROSS JOIN (SELECT explode(sequence(1, 3)) AS sent) r""")
    n
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** Final (post-AQE) plan nodes of type T. */
  private def nodes[T <: SparkPlan](df: DataFrame)(
      pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    df.collect(): Unit
    collect(df.queryExecution.executedPlan)(pf)
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    nodes(df) { case e: ShuffleExchangeExec => e }

  private def coalesces(df: DataFrame): Seq[CoalesceExec] =
    nodes(df) { case c: CoalesceExec => c }

  /** Spark jobs one action runs, counted by a job group of its own. */
  private def jobs(s: SparkSession, df: DataFrame): Int = {
    val group = s"spp-${System.nanoTime}"
    val groups = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(groups.add)
    }
    val sc = s.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      df.collect(): Unit
      // the listener bus is FIFO: once this marker job's start arrives,
      // every earlier job start has been delivered
      sc.setJobGroup(s"$group-end", "marker")
      sc.parallelize(Seq(1), 1).count(): Unit
      sc.clearJobGroup()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!groups.contains(s"$group-end") && System.nanoTime < deadline)
        Thread.sleep(10)
    } finally sc.removeSparkListener(l)
    groups.asScala.count(_ == group)
  }

  private val q3 = """SELECT DISTINCT day, awnd, pgtm, prcp, snow, snwd,
      tavg, tmax, tmin FROM trinoweather
    WHERE day > DATE '1995-01-06' AND pgtm >= 0 ORDER BY day"""
  private val q5 = """SELECT DISTINCT sent, day, awnd, pgtm, prcp, snow,
      snwd, tavg, tmax, tmin FROM trinoweather
    WHERE day > DATE '1995-01-04' AND sent <= 2 ORDER BY day, sent"""

  test("Q3/Q5 shapes over graft_mongo plan no shuffle and match the " +
      "oracle") {
    Seq(q3, q5).foreach { q =>
      val df = ss.sql(q)
      assert(shuffles(df).isEmpty, df.queryExecution.executedPlan.toString)
      assert(coalesces(df).nonEmpty)
      val want = rows(oracle.sql(q))
      assert(want.nonEmpty && rows(df) === want)
    }
  }

  test("a fed_lineitem-style lake point lookup with ORDER BY runs as " +
      "one job") {
    val t = "graft_lake.lake.spp_lineitem"
    val orders = Tables.t(ss, sf, "orders").count()
    ss.sql(s"DROP TABLE IF EXISTS $t")
    ss.sql(s"""CREATE TABLE $t (l_orderkey BIGINT, l_linenumber INT,
      l_partkey BIGINT, l_suppkey BIGINT, l_quantity DOUBLE,
      l_extendedprice DOUBLE)
      TBLPROPERTIES ('shard_key'='l_orderkey', 'n_shards'='8',
        'shard_width'='${math.max(1L, orders / 8)}')""")
    ss.sql(s"""INSERT INTO $t SELECT l_orderkey, l_linenumber,
      l_partkey, l_suppkey, l_quantity, l_extendedprice
      FROM parquet.`$sf/lineitem.parquet`""")
    val k = oracle.sql("SELECT max(l_orderkey) FROM lineitem")
      .head.getLong(0) / 2
    val q = s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      l_quantity, l_extendedprice FROM %s WHERE l_orderkey = $k
      ORDER BY l_linenumber, l_partkey, l_suppkey"""
    val df = ss.sql(q.format(t))
    assert(jobs(ss, df) === 1, df.queryExecution.executedPlan.toString)
    assert(coalesces(df).nonEmpty)
    val want = rows(oracle.sql(q.format("lineitem")))
    assert(want.nonEmpty && rows(df) === want)
    ss.sql(s"DROP TABLE $t")
  }

  test("the Q1 shape broadcasts a wrapped Mongo scan and returns the " +
      "oracle's rows") {
    val q = """SELECT CAST(w._id AS DATE) AS day, o.O_ORDERKEY AS o_orderkey,
        CAST(o.O_TOTALPRICE AS DOUBLE) AS price, w.awnd, w.tavg
      FROM graft_mongo.weather.weatherny w
      JOIN graft_jdbc.APP.GRAFT_ORDERS o ON w._id = o.O_ORDERDATE
      WHERE o.O_ORDERDATE < DATE '1995-01-20'
      ORDER BY day, o_orderkey"""
    val df = ss.sql(q)
    val wrapped = nodes(df) {
      case b: BroadcastExchangeExec if b.exists(_.isInstanceOf[CoalesceExec]) => b
    }
    assert(wrapped.nonEmpty, df.queryExecution.executedPlan.toString)
    val want = rows(oracle.sql(
      """SELECT w.day, o.o_orderkey,
          CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
          w.awnd, w.tavg
        FROM weather w JOIN orders o ON w.day = CAST(o.o_orderdate AS DATE)
        WHERE o.o_orderkey < 5000 AND CAST(o.o_orderdate AS DATE) < DATE '1995-01-20'
        ORDER BY day, o_orderkey"""))
    assert(want.nonEmpty && rows(df) === want)
  }

  test("negative: a partitioned JDBC read (numPartitions=4) plans as " +
      "before") {
    val df = SparkEntry.queries("jdbc_scan_agg")(ss, sf)
    assert(coalesces(df).isEmpty, df.queryExecution.executedPlan.toString)
    assert(shuffles(df).nonEmpty)
  }

  test("negative: a hash-sharded SPJ join and point lookup plan as " +
      "before") {
    Seq("spp_ha", "spp_hb").foreach { t =>
      ss.sql(s"DROP TABLE IF EXISTS graft_lake.lake.$t")
      ss.sql(s"""CREATE TABLE graft_lake.lake.$t (user_id BIGINT, v BIGINT)
        TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8')""")
      ss.sql(s"""INSERT INTO graft_lake.lake.$t
        SELECT id, id * 10 FROM range(0, 64)""")
    }
    val join = ss.sql("""SELECT a.user_id, b.v FROM graft_lake.lake.spp_ha a
      JOIN graft_lake.lake.spp_hb b ON a.user_id = b.user_id""")
    assert(coalesces(join).isEmpty && shuffles(join).isEmpty,
      join.queryExecution.executedPlan.toString)
    assert(join.count() === 64L)
    // one pruned shard still reports key-grouped partitioning
    val point = ss.sql("""SELECT user_id, v FROM graft_lake.lake.spp_ha
      WHERE user_id = 5""")
    assert(coalesces(point).isEmpty, point.queryExecution.executedPlan.toString)
    assert(rows(point) === Seq("[5,50]"))
    Seq("spp_ha", "spp_hb").foreach(t =>
      ss.sql(s"DROP TABLE graft_lake.lake.$t"))
  }

  test("negative: a DPP-filtered one-shard lake scan plans as before") {
    // DPP rides broadcast reuse, so this runs on the shared session
    // with its default broadcast threshold; it changes no conf
    Lake.registerCatalog(spark)
    val t = "graft_lake.lake.spp_dpp"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // one range shard: without its runtime filter this scan would
    // qualify (one partition, unknown partitioning, a few KB)
    spark.sql(s"""CREATE TABLE $t (user_id BIGINT, v BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='1',
        'shard_width'='64')""")
    spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 64)")
    // a parquet dim: its `t` filter implies nothing about user_id, so
    // the optimizer cannot fold it into a static filter on the fact
    val dim = java.nio.file.Files.createTempDirectory("spp_dpp_dim")
      .resolve("dim").toString
    spark.range(0, 64).selectExpr("id AS user_id",
        "CASE WHEN id = 5 THEN 'hot' ELSE 'cold' END AS t")
      .write.parquet(dim)
    spark.read.parquet(dim).createOrReplaceTempView("spp_dpp_dim")
    val df = spark.sql(s"""SELECT a.user_id, a.v FROM $t a
      JOIN spp_dpp_dim p ON a.user_id = p.user_id AND p.t = 'hot'""")
    val plan = { df.collect(); df.queryExecution.executedPlan.toString }
    assert(plan.contains("runtimeFiltered=true"), plan)
    assert(coalesces(df).isEmpty, plan)
    assert(rows(df) === Seq("[5,50]"))
    spark.sql(s"DROP TABLE $t")
  }

  test("negative: below a scan's size, spark.sql.maxSinglePartitionBytes " +
      "keeps the shuffled plan") {
    val s = ss.newSession()
    Mongo.registerCatalog(s, sf)
    s.conf.set("spark.sql.maxSinglePartitionBytes", "1")
    val df = s.sql("""SELECT DISTINCT CAST(_id AS DATE) AS day, tavg
      FROM graft_mongo.weather.weatherny ORDER BY day""")
    assert(coalesces(df).isEmpty && shuffles(df).nonEmpty,
      df.queryExecution.executedPlan.toString)
    assert(rows(df) === rows(oracle.sql(
      "SELECT DISTINCT day, tavg FROM weather ORDER BY day")))
  }

  test("negative: an empty CREATEd Mongo collection plans as before and " +
      "returns no rows") {
    val t = "graft_mongo.weather.spp_empty"
    ss.sql(s"DROP TABLE IF EXISTS $t")
    ss.sql(s"CREATE TABLE $t (_id TIMESTAMP, qty BIGINT)")
    val df = ss.sql(s"""SELECT DISTINCT qty FROM $t ORDER BY qty""")
    assert(rows(df).isEmpty)
    assert(coalesces(df).isEmpty, df.queryExecution.executedPlan.toString)
    assert(ss.sql(s"SELECT count(*) FROM $t").head.getLong(0) === 0L)
    ss.sql(s"DROP TABLE $t")
  }
}
