package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Q
import graft.sources.Memo
import graft.sources.Tables.{t, events}

/** Inventory completers for SURVEY.md §2 rows not covered elsewhere:
  * CSV ingest (§2.1), GROUPING SETS (§2.4), RANGE window frames (§2.5),
  * array functions (§2.8), timestamp-bounded scans (§2.9 — the
  * `kafka.timestamp-upper-bound-force-push-down-enabled` analog), and
  * metadata queries (§2.11 M1–M3). */
object Coverage {

  /** CSV ingest with a DECLARED schema (the reference loads CSVs into
    * Postgres/Mongo with explicit types — `fill_postgresql.sql:12`,
    * `fillMongoDB.ipynb` cell-2; schema inference never touches the query
    * path). Round-trips a projection through CSV and reads it back. */
  /** Scratch dir for a write-then-read-back ingest round-trip. Tagged
    * with the pid: every invocation rewrites before reading, so within
    * one JVM the name only needs to be stable, but two JVMs sharing
    * java.io.tmpdir must not overwrite each other mid-read (and two
    * distinct source dirs may collide on hashCode — harmless same-JVM
    * because of the rewrite, fatal cross-JVM without the pid). */
  private def ingestScratch(fmt: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${fmt}_" +
      s"${ProcessHandle.current().pid()}_" +
      java.lang.Integer.toHexString(dir.hashCode)

  val csvIngest: Q = (s, dir) => {
    val out = ingestScratch("csv", dir)
    t(s, dir, "part")
      .select("p_partkey", "p_name", "p_brand", "p_size")
      .write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_size", IntegerType)))
    s.read.option("header", "true").schema(schema).csv(out)
      .orderBy("p_partkey")
  }

  val csvIngestOracle: String =
    """SELECT p_partkey, p_name, p_brand, p_size FROM part
       ORDER BY p_partkey"""

  /** ORC ingest round-trip (columnar alternative to parquet; same
    * declared-schema discipline). */
  val orcIngest: Q = (s, dir) => {
    val out = ingestScratch("orc", dir)
    t(s, dir, "supplier").write.mode("overwrite").orc(out)
    s.read.orc(out)
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .orderBy("s_suppkey")
  }

  val orcIngestOracle: String =
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
       ORDER BY s_suppkey"""

  /** JSON-lines ingest with a DECLARED schema (the Kafka-message shape:
    * one JSON object per line — `trino/kafka/weatherdata.json` declares
    * exactly this mapping). */
  val jsonIngest: Q = (s, dir) => {
    val out = ingestScratch("json", dir)
    t(s, dir, "nation").write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    s.read.schema(schema).json(out)
      .orderBy("n_nationkey")
  }

  val jsonIngestOracle: String =
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
       ORDER BY n_nationkey"""

  /** Avro ingest round-trip (the row-oriented wire/archive format the
    * reference reads through its Kafka and Hive connectors; Spark 4
    * bundles AvroFileFormat in spark-sql but does not service-register
    * the `avro` short name there, so the provider is addressed by
    * class). Avro's own embedded writer schema drives the read. */
  val avroIngest: Q = (s, dir) => {
    val avro = "org.apache.spark.sql.avro.AvroFileFormat"
    val out = ingestScratch("avro", dir)
    t(s, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      .write.mode("overwrite").format(avro).save(out)
    s.read.format(avro).load(out)
      .orderBy("c_custkey")
  }

  val avroIngestOracle: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
       ORDER BY c_custkey"""

  /** XML ingest round-trip with a DECLARED schema (document-shaped
    * feeds; Spark 4 bundles the xml source in spark-sql). */
  val xmlIngest: Q = (s, dir) => {
    val out = ingestScratch("xml", dir)
    t(s, dir, "region").select("r_regionkey", "r_name")
      .write.mode("overwrite").option("rowTag", "region").xml(out)
    val schema = StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType)))
    s.read.option("rowTag", "region").schema(schema).xml(out)
      .orderBy("r_regionkey")
  }

  val xmlIngestOracle: String =
    """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"""

  /** Semi-structured VARIANT path (Spark 4's answer to the reference
    * engine's JSON type): parse once into the binary VARIANT encoding,
    * then typed field access + a predicate on the extracted value —
    * the parse-once/probe-many shape that beats per-access string
    * re-parsing when many fields are read. Output is plain scalars so
    * every downstream consumer (parquet, oracle) sees ordinary types. */
  val variantExtract: Q = (s, dir) =>
    events(s, dir)
      .selectExpr("event_id",
        "variant_get(parse_json(props), '$.k', 'bigint') AS k")
      .filter(col("k") >= 50)
      .orderBy("event_id")

  val variantExtractOracle: String =
    """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
       FROM events
       WHERE CAST(json_extract(props, '$.k') AS BIGINT) >= 50
       ORDER BY event_id"""

  /** SQL-defined function (Spark 4 `CREATE FUNCTION … RETURN` — the
    * declarative-routine surface the reference engine serves with SQL
    * routines): the banding logic is declared once and reused by name.
    * Catalyst INLINES the body at analysis time, so this codegens
    * exactly like the written-out CASE — none of the black-box
    * deserialize-per-row penalty of a Scala/Python UDF. */
  val sqlUdfBanding: Q = (s, dir) => {
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_price_band(p DOUBLE)
         RETURNS STRING
         RETURN CASE WHEN p > 300000 THEN 'big'
                     WHEN p > 100000 THEN 'mid' ELSE 'small' END""")
    t(s, dir, "orders").createOrReplaceTempView("orders_udf_v")
    s.sql(
      """SELECT o_orderkey, graft_price_band(o_totalprice) AS band
         FROM orders_udf_v ORDER BY o_orderkey""")
  }

  val sqlUdfBandingOracle: String =
    """SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000 THEN 'big'
            WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS band
       FROM orders ORDER BY o_orderkey"""

  /** Explicit GROUPING SETS (beyond rollup/cube). */
  val groupingSets: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
         FROM orders_v
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY o_orderstatus ASC NULLS FIRST,
                  o_orderpriority ASC NULLS FIRST""")
  }

  val groupingSetsOracle: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
       ORDER BY o_orderstatus ASC NULLS FIRST,
                o_orderpriority ASC NULLS FIRST"""

  /** RANGE window frame (value-based, tie-inclusive — unlike ROWS
    * frames): how many same-type events fall within 50 units below each
    * event's value. */
  val windowRangeFrame: Q = (s, dir) => {
    val w = Window.partitionBy("event_type").orderBy(col("value"))
      .rangeBetween(-50, 0)
    events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        count(lit(1)).over(w).as("n_in_range"))
      .orderBy("event_id")
  }

  val windowRangeFrameOracle: String =
    """SELECT event_id, event_type, value,
       count(*) OVER (PARTITION BY event_type ORDER BY value
         RANGE BETWEEN 50 PRECEDING AND CURRENT ROW) AS n_in_range
       FROM events ORDER BY event_id"""

  /** Array functions over tokenized text (§2.8 'A' row: array fns).
    * The first-5 slice is emitted space-joined (concat_ws) rather than as a
    * raw array column: the driver's checker row-sorts results in pandas,
    * where ndarray cells are unhashable and crash the sort. */
  val arrayFuncs: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id",
        "CAST(size(toks) AS BIGINT) AS n_tokens",
        "CAST(size(array_distinct(toks)) AS BIGINT) AS n_distinct",
        "concat_ws(' ', slice(array_sort(array_distinct(toks)), 1, 5)) AS first5",
        "array_contains(toks, 'the') AS has_the")
      .orderBy("doc_id")

  val arrayFuncsOracle: String =
    """SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct,
       array_to_string(
         list_slice(list_sort(list_distinct(string_split(text, ' '))), 1, 5),
         ' ') AS first5,
       list_contains(string_split(text, ' '), 'the') AS has_the
       FROM documents ORDER BY doc_id"""

  /** Timestamp-bounded scan of the event stream — the batch analog of
    * Kafka `startingOffsetsByTimestamp`/`endingOffsetsByTimestamp`
    * (reference pushes the upper bound into the broker seek,
    * `trino/catalog/kafka.properties:7`); here the bound is pushed into
    * the parquet scan (PushedFilters). */
  val eventsTimeBounded: Q = (s, dir) => {
    // Bound the RAW column in its own domain so the predicate reaches the
    // parquet scan (a filter on a converted column sits above the
    // projection and scans everything). Legacy files carry int64 nanos,
    // current ones a native timestamp (Tables.events); whole-second
    // bounds make both domain filters select identical rows.
    def ns(isoInstant: String): Long =
      java.time.Instant.parse(isoInstant).getEpochSecond * 1000000000L
    val raw = graft.sources.Tables.t(s, dir, "events")
    val bounded = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.filter(col("ts") >= ns("2024-01-10T00:00:00Z") &&
                   col("ts") < ns("2024-01-20T00:00:00Z"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.filter(col("ts") >= to_timestamp_ntz(lit("2024-01-10 00:00:00")) &&
                   col("ts") < to_timestamp_ntz(lit("2024-01-20 00:00:00")))
    }
    bounded
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .select("event_id", "ts", "user_id", "event_type")
      .orderBy("event_id")
  }

  val eventsTimeBoundedOracle: String =
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
       FROM events
       WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
       ORDER BY event_id"""

  /** Metadata path (M1–M3, `vanilla_k8s_trino_demo_installation.txt:
    * 764-773`): register the catalog's tables, then answer SHOW TABLES. */
  val metaShowTables: Q = (s, dir) => {
    graft.sources.Tables.names.foreach { n =>
      t(s, dir, n).createOrReplaceTempView(s"graft_$n")
    }
    val expected = graft.sources.Tables.names.map("graft_" + _)
    s.sql("SHOW TABLES")
      .filter(col("tableName").isin(expected: _*))
      .selectExpr("substring(tableName, 7) AS table_name")
      .orderBy("table_name")
  }

  val metaShowTablesOracle: String =
    """SELECT * FROM (VALUES ('customer'), ('documents'), ('embeddings'),
       ('events'), ('lineitem'), ('nation'), ('orders'), ('part'),
       ('region'), ('supplier')) AS t(table_name) ORDER BY table_name"""

  /** Map functions (§2.8 'A' row: map fns): construction (map,
    * str_to_map), lookup (element_at), keys/size, and map_concat. Outputs
    * are emitted as scalars/joined strings; the oracle states the expected
    * values directly (the semantic spec, independent of MAP dialect). */
  val mapFuncs: Q = (s, dir) =>
    events(s, dir)
      .selectExpr("event_id",
        "map('et', event_type, 'uid', CAST(user_id AS STRING)) AS m",
        """str_to_map(concat('a:1,b:', CAST(event_id % 3 AS STRING)),
           ',', ':') AS m2""")
      .selectExpr("event_id",
        "CAST(size(m) AS BIGINT) AS m_size",
        "element_at(m, 'et') AS et",
        "concat_ws(',', array_sort(map_keys(m2))) AS m2_keys",
        "element_at(m2, 'b') AS b_val",
        "CAST(size(map_concat(m, m2)) AS BIGINT) AS concat_size")
      .orderBy("event_id")

  val mapFuncsOracle: String =
    """SELECT event_id,
       CAST(2 AS BIGINT) AS m_size,
       event_type AS et,
       'a,b' AS m2_keys,
       CAST(event_id % 3 AS VARCHAR) AS b_val,
       CAST(4 AS BIGINT) AS concat_size
       FROM events ORDER BY event_id"""

  /** Catalog DDL round-trip (§2.11 CREATE TABLE, the fill_postgresql.sql
    * analog): CREATE TABLE … USING parquet, INSERT INTO … SELECT from the
    * scanned source, read back through the catalog. The managed table is
    * per-SF-tagged like the bucketed tables (one warehouse per process).
    * Cites reference DDL local_demo_setup/fill_postgresql.sql:1-10. */
  val metaCreateInsert: Q = (s, dir) => {
    // content fingerprint, not dir.hashCode: a regenerated orders.parquet
    // at the same path must get a fresh DDL table, not the stale one
    val tag = graft.sources.Tables.fingerprint(dir, "orders")
    val tbl = s"graft_ddl_orders_$tag"
    if (!s.catalog.tableExists(tbl)) {
      s.sql(s"CREATE TABLE $tbl (o_orderkey BIGINT, o_orderstatus STRING) " +
        "USING parquet")
      t(s, dir, "orders").createOrReplaceTempView(s"graft_ddl_src_$tag")
      s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_orderstatus " +
        s"FROM graft_ddl_src_$tag WHERE o_orderkey < 500")
    }
    s.sql(s"SELECT o_orderstatus, count(*) AS n, " +
      s"CAST(min(o_orderkey) AS BIGINT) AS min_key FROM $tbl " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")
  }

  val metaCreateInsertOracle: String =
    """SELECT o_orderstatus, count(*) AS n, min(o_orderkey) AS min_key
       FROM orders WHERE o_orderkey < 500
       GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** PIVOT: per-user event-type counts as columns (fixed value list →
    * stable schema, no extra distinct-values pass at scale). */
  val pivotEventCounts: Q = (s, dir) =>
    events(s, dir)
      .groupBy("user_id")
      .pivot("event_type",
        Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy("user_id")

  val pivotEventCountsOracle: String =
    """SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click') AS click,
       count(*) FILTER (WHERE event_type = 'error') AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS signup,
       count(*) FILTER (WHERE event_type = 'view') AS view
       FROM events GROUP BY user_id ORDER BY user_id"""

  /** HAVING: post-aggregation filter. */
  val havingFilter: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(graft.sources.Tables.dsum(col("o_totalprice")).as("sum_price"),
        count(lit(1)).as("n_orders"))
      .filter(col("sum_price") > 2000000)
      .orderBy("o_custkey")

  val havingFilterOracle: String =
    """SELECT o_custkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       count(*) AS n_orders
       FROM orders GROUP BY o_custkey
       HAVING CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         > 2000000
       ORDER BY o_custkey"""

  /** Scalar subquery: rows above the global (decimal-exact) average —
    * Spark side as a broadcast single-row join, same value semantics. */
  val scalarSubquery: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val thr = o.agg(
      (graft.sources.Tables.dsum(col("o_totalprice")) / count(lit(1)))
        .as("thr"))
    o.join(broadcast(thr))
      .filter(col("o_totalprice") > col("thr"))
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  val scalarSubqueryOracle: String =
    """SELECT o_orderkey, o_totalprice FROM orders
       WHERE o_totalprice > (
         SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           / count(*) FROM orders)
       ORDER BY o_orderkey"""

  /** Correlated EXISTS / NOT EXISTS / correlated scalar subquery (§2.2
    * 'A' row: predicates beyond the reference's date compares) through
    * spark.sql — Catalyst decorrelates EXISTS into a left-semi and NOT
    * EXISTS into a left-anti join, so both run as hash joins at scale
    * (no per-row subquery execution). Customers under key 300 with at
    * least one order but none above 250 000, plus their correlated
    * per-customer max order price. */
  val subqueryExists: Q = (s, dir) => {
    t(s, dir, "customer").createOrReplaceTempView("graft_sq_customer")
    t(s, dir, "orders").createOrReplaceTempView("graft_sq_orders")
    s.sql(
      """SELECT c_custkey,
           round((SELECT max(o_totalprice) FROM graft_sq_orders o
             WHERE o.o_custkey = c.c_custkey), 2) AS max_price
         FROM graft_sq_customer c
         WHERE c_custkey < 300
           AND EXISTS (SELECT 1 FROM graft_sq_orders o
                        WHERE o.o_custkey = c.c_custkey)
           AND NOT EXISTS (SELECT 1 FROM graft_sq_orders o
                            WHERE o.o_custkey = c.c_custkey
                              AND o.o_totalprice > 250000.0)
         ORDER BY c_custkey""")
  }

  val subqueryExistsOracle: String =
    """SELECT c_custkey,
         round((SELECT max(o_totalprice) FROM orders o
           WHERE o.o_custkey = c.c_custkey), 2) AS max_price
       FROM customer c
       WHERE c_custkey < 300
         AND EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey)
         AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 250000.0)
       ORDER BY c_custkey"""

  /** Bucketed co-located join: both sides written bucketed+sorted on the
    * join key, so the sort-merge join needs NO Exchange and no sort — the
    * bucketing/pre-partitioning scale path (at 100 TB this is how a fact
    * table joins repeatedly on the same key without re-shuffling). */
  val joinBucketed: Q = (s, dir) => {
    // The bucketed LAYOUT persists across sessions (external tables
    // under tmpdir, keyed by a content fingerprint like
    // compactedEventsDir): a fresh JVM re-binds the existing bucket
    // files with metadata-only DDL instead of rewriting them, so the
    // bench measures the JOIN, not the one-time table build — exactly
    // the production split (layout maintenance is amortized, queries
    // pay only the exchange-free SMJ).
    def fp(file: String): String = {
      val f = new java.io.File(dir, file)
      val key = s"graft-bucket-v1:$dir:$file:${f.length}:${f.lastModified}"
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(key.getBytes("UTF-8")).take(8).map("%02x".format(_))
        .mkString
    }
    // the bucket files are written once through a throwaway table
    // (bucketBy needs saveAsTable), then bound like every later JVM's
    def ensure(table: String, src: String, memo: String,
        ddlCols: String, bucketCol: String, cols: Seq[String]): Unit =
      if (!s.catalog.tableExists(table)) {
        val dataDir = Memo.publish(memo) { d =>
          t(s, dir, src).select(cols.head, cols.tail: _*)
            .write.bucketBy(8, bucketCol).sortBy(bucketCol)
            .option("path", d.getPath)
            .mode("overwrite").saveAsTable(s"${table}_w")
          s.sql(s"DROP TABLE ${table}_w") // external: files stay
        }
        s.sql(s"""CREATE TABLE IF NOT EXISTS $table ($ddlCols) USING parquet
                  CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
                  INTO 8 BUCKETS LOCATION '$dataDir'""")
      }
    val ot = s"graft_orders_b_${fp("orders.parquet")}"
    val lt = s"graft_lineitem_b_${fp("lineitem.parquet")}"
    ensure(ot, "orders", s"graft_bucket_o_${fp("orders.parquet")}",
      "o_orderkey BIGINT, o_totalprice DOUBLE", "o_orderkey",
      Seq("o_orderkey", "o_totalprice"))
    ensure(lt, "lineitem", s"graft_bucket_l_${fp("lineitem.parquet")}",
      "l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE",
      "l_orderkey", Seq("l_orderkey", "l_linenumber", "l_quantity"))
    // merge hint: at toy SF the planner would broadcast instead and skip
    // the bucketed layout entirely; at 100 TB SMJ-over-buckets IS the plan
    val o = s.table(ot).hint("merge")
    val l = s.table(lt).hint("merge")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select(o("o_orderkey"), l("l_linenumber"), l("l_quantity"),
        o("o_totalprice"))
      // (orderkey, linenumber) repeats in the synthetic lineitem —
      // quantity completes the total order (RegistryGuardSpec audit)
      .orderBy("o_orderkey", "l_linenumber", "l_quantity")
  }

  val joinBucketedOracle: String =
    """SELECT o.o_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       ORDER BY o_orderkey, l_linenumber, l_quantity"""

  /** Range (interval) join without a nested-loop explosion: pairs of
    * events by the same user within 5 minutes of each other. Each left
    * row probes its own time band and the adjacent one (equi-join on
    * (user, band)), then the exact range predicate filters — the banding
    * turns an inequality join into a shuffle-friendly equi-join whose
    * per-key fan-out is bounded by band occupancy. */
  val joinRangeBanded: Q = (s, dir) => {
    val ev = events(s, dir)
      .selectExpr("event_id", "user_id", "ts",
        "unix_micros(CAST(ts AS TIMESTAMP)) div 300000000 AS band")
    val probe = ev.selectExpr("event_id AS e1", "user_id AS u1",
        "ts AS ts1", "explode(array(band - 1, band, band + 1)) AS pband")
    val build = ev.selectExpr("event_id AS e2", "user_id AS u2",
      "ts AS ts2", "band AS bband")
    probe.join(build,
        col("u1") === col("u2") && col("pband") === col("bband") &&
        col("e1") < col("e2"))
      .filter(col("ts2") >= col("ts1") - expr("INTERVAL '5' MINUTE") &&
              col("ts2") <= col("ts1") + expr("INTERVAL '5' MINUTE"))
      .select(col("e1"), col("e2"), col("u1").as("user_id"))
      .distinct()
      .orderBy("e1", "e2")
  }

  val joinRangeBandedOracle: String =
    """WITH ev AS (
         SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
       SELECT a.event_id AS e1, b.event_id AS e2, a.user_id
       FROM ev a JOIN ev b
         ON a.user_id = b.user_id AND a.event_id < b.event_id
        AND b.ts >= a.ts - INTERVAL 5 MINUTE
        AND b.ts <= a.ts + INTERVAL 5 MINUTE
       ORDER BY e1, e2"""

  /** Built-in session_window aggregation (the batch binding of the
    * 30-minute-gap sessionization; Streams.sessionizeEvents is the
    * gaps-and-islands twin). */
  val sessionWindowAgg: Q = (s, dir) =>
    events(s, dir)
      .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .selectExpr("user_id",
        "CAST(session_window.start AS TIMESTAMP_NTZ) AS session_start",
        "n_events")
      .orderBy("user_id", "session_start")

  val sessionWindowAggOracle: String =
    """WITH marked AS (
         SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
       sess AS (
         SELECT *, sum(new_sess) OVER (PARTITION BY user_id
           ORDER BY ts ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_id
         FROM marked)
       SELECT user_id, min(ts) AS session_start, count(*) AS n_events
       FROM sess GROUP BY user_id, sess_id
       ORDER BY user_id, session_start"""

  /** Salted join: the left side's key is salted and the (small) right
    * side replicated across the salt domain — the standard fix when one
    * hot key would pin a whole shuffle partition. Results are identical
    * to the plain join (oracle is the unsalted SQL). */
  val joinSalted: Q = (s, dir) => {
    val salts = 8
    val o = t(s, dir, "orders")
      .selectExpr("o_orderkey", "o_custkey", "o_totalprice",
        s"pmod(hash(o_orderkey), $salts) AS salt")
    val c = t(s, dir, "customer")
      .selectExpr("c_custkey", "c_name",
        s"explode(sequence(0, ${salts - 1})) AS salt")
    o.join(c, o("o_custkey") === c("c_custkey") && o("salt") === c("salt"))
      .select("o_orderkey", "o_custkey", "c_name", "o_totalprice")
      .orderBy("o_orderkey")
  }

  val joinSaltedOracle: String =
    """SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_totalprice
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       ORDER BY o_orderkey"""

  /** Generator: posexplode (array → rows with position). */
  val posexplodeTokens: Q = (s, dir) =>
    t(s, dir, "documents")
      .filter(col("doc_id") < 20)
      .selectExpr("doc_id", "posexplode(split(text, ' ')) AS (pos, tok)")
      .selectExpr("doc_id", "CAST(pos AS BIGINT) AS pos", "tok")
      .orderBy("doc_id", "pos")

  val posexplodeTokensOracle: String =
    """SELECT doc_id,
       unnest(range(0, len(string_split(text, ' ')))) AS pos,
       unnest(string_split(text, ' ')) AS tok
       FROM documents WHERE doc_id < 20
       ORDER BY doc_id, pos"""

  /** min_by / max_by aggregates (argmin/argmax) with a composite tiebreak
    * key so the result is deterministic. */
  val minByMaxBy: Q = (s, dir) =>
    events(s, dir)
      .groupBy("user_id")
      .agg(
        // composite numeric key (value dominates, event_id breaks ties)
        // because DuckDB's max_by can't take struct keys
        expr("max_by(event_id, value * 1000000 + event_id)")
          .as("max_value_event"),
        expr("min_by(event_id, value * 1000000 + event_id)")
          .as("min_value_event"),
        max("value").as("max_value"),
        min("value").as("min_value"))
      .orderBy("user_id")

  val minByMaxByOracle: String =
    """SELECT user_id,
       max_by(event_id, value * 1000000 + event_id) AS max_value_event,
       min_by(event_id, value * 1000000 + event_id) AS min_value_event,
       max(value) AS max_value, min(value) AS min_value
       FROM events GROUP BY user_id ORDER BY user_id"""

  /** Ordered string aggregation (sorted collect + join — deterministic,
    * unlike bare collect_list). */
  val stringAggSorted: Q = (s, dir) =>
    events(s, dir)
      .select("user_id", "event_type").distinct()
      .groupBy("user_id")
      .agg(expr("array_join(sort_array(collect_list(event_type)), ',')")
        .as("types_csv"))
      .orderBy("user_id")

  val stringAggSortedOracle: String =
    """SELECT user_id, string_agg(event_type, ',' ORDER BY event_type)
         AS types_csv
       FROM (SELECT DISTINCT user_id, event_type FROM events)
       GROUP BY user_id ORDER BY user_id"""

  /** first_value / last_value / nth_value / ntile window functions. */
  val windowValueFuncs: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val wf = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        first(col("value")).over(wf).as("first_value"),
        last(col("value")).over(wf).as("last_value"),
        nth_value(col("value"), 2).over(wf).as("second_value"),
        ntile(4).over(w).cast(LongType).as("quartile"))
      .orderBy("event_id")
  }

  val windowValueFuncsOracle: String =
    """SELECT event_id, user_id, value,
       first_value(value) OVER wf AS first_value,
       last_value(value) OVER wf AS last_value,
       nth_value(value, 2) OVER wf AS second_value,
       ntile(4) OVER w AS quartile
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
         wf AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       ORDER BY event_id"""

  /** Conditional aggregation (FILTER / sum-of-CASE). */
  val conditionalAgg: Q = (s, dir) =>
    events(s, dir)
      .groupBy("user_id")
      .agg(
        count(when(col("event_type") === "error", 1)).as("n_errors"),
        sum(when(col("event_type") === "purchase",
            col("value").cast(DecimalType(18, 2)))
          .otherwise(lit(0).cast(DecimalType(18, 2))))
          .cast(DoubleType).as("purchase_value"),
        count(lit(1)).as("n_total"))
      .orderBy("user_id")

  val conditionalAggOracle: String =
    """SELECT user_id,
       count(*) FILTER (WHERE event_type = 'error') AS n_errors,
       CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(value AS DECIMAL(18,2))
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         AS purchase_value,
       count(*) AS n_total
       FROM events GROUP BY user_id ORDER BY user_id"""

  /** Date arithmetic breadth: diffs, truncation distance, extraction. */
  val scalarDateArith: Q = (s, dir) =>
    t(s, dir, "orders")
      .selectExpr("o_orderkey",
        "CAST(datediff(o_orderdate, CAST('1995-01-01' AS TIMESTAMP_NTZ)) AS BIGINT) AS days_since_epoch_start",
        "CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS BIGINT) AS months_since",
        "CAST(quarter(o_orderdate) AS BIGINT) AS qtr",
        "CAST(weekofyear(o_orderdate) AS BIGINT) AS wk")
      .orderBy("o_orderkey")

  val scalarDateArithOracle: String =
    """SELECT o_orderkey,
       datediff('day', TIMESTAMP '1995-01-01', o_orderdate)
         AS days_since_epoch_start,
       (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1
         AS months_since,
       quarter(o_orderdate) AS qtr,
       weekofyear(o_orderdate) AS wk
       FROM orders ORDER BY o_orderkey"""

  /** String padding/trimming/field extraction (§2.8 string family). */
  val stringPadSplit: Q = (s, dir) =>
    t(s, dir, "part")
      .selectExpr("p_partkey",
        "lpad(p_brand, 12, '.') AS brand_padded",
        "rpad(p_type, 10, '_') AS type_padded",
        "trim(concat(' ', p_name, ' ')) AS name_trimmed",
        "split_part(p_name, ' ', 1) AS name_first_word")
      .orderBy("p_partkey")

  val stringPadSplitOracle: String =
    """SELECT p_partkey,
       lpad(p_brand, 12, '.') AS brand_padded,
       rpad(p_type, 10, '_') AS type_padded,
       trim(concat(' ', p_name, ' ')) AS name_trimmed,
       split_part(p_name, ' ', 1) AS name_first_word
       FROM part ORDER BY p_partkey"""

  /** Bitwise operators + null-safe equality (§2.8). */
  val bitwiseNullsafe: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .groupBy("o_custkey").agg(max("o_totalprice").as("max_f_price"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .selectExpr("c_custkey",
        "c_custkey & 255 AS key_low_byte",
        "c_custkey | 1 AS key_or_one",
        "CAST(bit_count(c_custkey) AS BIGINT) AS key_bits",
        "shiftleft(c_nationkey, 2) AS nation_shifted",
        "max_f_price <=> NULL AS no_f_orders")
      .orderBy("c_custkey")
  }

  val bitwiseNullsafeOracle: String =
    """SELECT c.c_custkey,
       c.c_custkey & 255 AS key_low_byte,
       c.c_custkey | 1 AS key_or_one,
       CAST(bit_count(c.c_custkey) AS BIGINT) AS key_bits,
       c.c_nationkey << 2 AS nation_shifted,
       o.max_f_price IS NOT DISTINCT FROM NULL AS no_f_orders
       FROM customer c
       LEFT OUTER JOIN (
         SELECT o_custkey, max(o_totalprice) AS max_f_price
         FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) o
         ON c.c_custkey = o.o_custkey
       ORDER BY c_custkey"""

  /** Hive-style partitioned layout + partition pruning: events written
    * partitionBy(event_type), then a type-filtered read touches ONLY that
    * partition's files (PartitionFilters in the scan — asserted in
    * PlanSpec). At 100 TB, date/tenant partitioning like this is the
    * first line of scan reduction, before any row-level pushdown. */
  /** Hive-partitioned (by event_type) copy of events, written once per
    * CORPUS SNAPSHOT — keyed by the source file's content fingerprint
    * (not dir.hashCode) so a regenerated events.parquet at the same
    * path rebuilds the layout instead of serving stale partitions, and
    * two distinct dirs can never alias (round-6 ADVICE class). */
  private def partitionedEventsDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Memo.publish("graft_part_" +
        graft.sources.Tables.fingerprint(dir, "events")) { d =>
      events(s, dir)
        .selectExpr("event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts",
          "user_id", "value", "event_type")
        .write.mode("overwrite").partitionBy("event_type").parquet(d.getPath)
    }.getPath

  val partitionedWritePrune: Q = (s, dir) => {
    s.read.parquet(partitionedEventsDir(s, dir))
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "value", "event_type")
      .orderBy("event_id")
  }

  val partitionedWritePruneOracle: String =
    """SELECT event_id, user_id, value, event_type FROM events
       WHERE event_type = 'purchase' ORDER BY event_id"""

  /** Z-order (Morton) layout key — the multi-dimensional data-skipping
    * sort every lakehouse OPTIMIZE ZORDER implements: interleaving the
    * bits of two clustering columns gives one sort key whose runs are
    * spatially local in BOTH dimensions, so min/max file statistics
    * prune selective predicates on either column (a single-column sort
    * only skips on its leading column). The op emits each event's
    * 16+16-bit Morton code and presents the rows in layout order — at
    * scale this ordering feeds a `sortWithinPartitions`+write, giving
    * per-file stats tight in user_id AND event_id with one range
    * exchange. The bit interleave is pure integer arithmetic, identical
    * in both engines. */
  val maintenanceZorderKey: Q = (s, dir) =>
    events(s, dir)
      .selectExpr("event_id",
        "CAST(user_id % 65536 AS BIGINT) AS a",
        "CAST(event_id % 65536 AS BIGINT) AS b")
      .selectExpr("event_id", "a", "b",
        """aggregate(sequence(0, 15), CAST(0 AS BIGINT),
           (acc, i) -> acc
             + shiftleft(shiftright(a, i) % 2, 2 * i)
             + shiftleft(shiftright(b, i) % 2, 2 * i + 1))
           AS zval""")
      .orderBy("zval", "event_id")

  val maintenanceZorderKeyOracle: String =
    """SELECT event_id, a, b,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(range(0, 16), i ->
           ((a >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
           + ((b >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1)))),
         (x, y) -> x + y) AS zval
       FROM (SELECT event_id,
               CAST(user_id % 65536 AS BIGINT) AS a,
               CAST(event_id % 65536 AS BIGINT) AS b
             FROM events)
       ORDER BY zval, event_id"""

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other instead of vanishing — the semantics SQL equi-join
    * silently drops and ETL key-reconciliation needs. Spark plans
    * EqualNullSafe as a normal hash-join key (coalesce-boxed), so the
    * scale shape is identical to an inner equi-join, not a nested loop.
    * Keys are made nullable via nullif on one region to exercise the
    * NULL↔NULL match path. */
  val joinNullSafe: Q = (s, dir) => {
    val n = t(s, dir, "nation")
      .selectExpr("n_name", "nullif(n_regionkey, 2) AS rk")
    val r = t(s, dir, "region")
      .selectExpr("r_name", "nullif(r_regionkey, 2) AS rk2")
    n.join(r, col("rk") <=> col("rk2"))
      .select("n_name", "r_name")
      .orderBy("n_name")
  }

  val joinNullSafeOracle: String =
    """SELECT n_name, r_name
       FROM (SELECT n_name, nullif(n_regionkey, 2) AS rk FROM nation) n
       JOIN (SELECT r_name, nullif(r_regionkey, 2) AS rk2 FROM region) r
         ON n.rk IS NOT DISTINCT FROM r.rk2
       ORDER BY n_name"""

  /** Mergeable partial aggregation — the incremental-rollup pattern: two
    * ingest batches are pre-aggregated independently and the daily
    * rollup is rebuilt by MERGING the partials (sum of counts, sum of
    * decimal sums), never rescanning raw history. Exactness holds
    * because every aggregate in the state is decomposable and decimal
    * sums are order-free; the oracle recomputes straight from the raw
    * table, proving merge(partials) ≡ direct aggregation. At 100 TB
    * this is the difference between a daily O(delta) job and an
    * O(history) one. */
  val incrementalAggMerge: Q = (s, dir) => {
    def partial(half: DataFrame): DataFrame = half
      .groupBy(date_trunc("day", col("ts")).as("day_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv"))
    val ev = events(s, dir)
    val batches = Seq(
      partial(ev.filter(pmod(col("event_id"), lit(2)) === 0)),
      partial(ev.filter(pmod(col("event_id"), lit(2)) === 1)))
    batches.reduce(_ unionByName _)
      .groupBy("day_start", "event_type")
      .agg(sum("n").as("n_events"),
        sum("sv").cast(DoubleType).as("sum_value"))
      .selectExpr("CAST(day_start AS TIMESTAMP_NTZ) AS day_start",
        "event_type", "n_events", "sum_value")
      .orderBy("day_start", "event_type")
  }

  val incrementalAggMergeOracle: String =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
       event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY day_start, event_type"""

  /** Small-file compaction — the table-maintenance operator every
    * petabyte lake needs: streaming ingest leaves thousands of tiny
    * files per partition, and scan cost then tracks file COUNT (task
    * scheduling + footer reads), not bytes. The op rewrites a
    * fragmented copy of `events` (16 shards ≈ 60 rows each at sf0.01)
    * into size-targeted files via a single `repartition(2)` write —
    * at cluster scale the shard count comes from bytes/target_file_size
    * and the rewrite is per-partition-subtree, exactly what
    * OPTIMIZE/rewrite_data_files does in the public lakehouse engines.
    * The query re-reads the COMPACTED copy and aggregates it, so the
    * oracle proves the rewrite is content-preserving (decimal-exact
    * sums); CoverageMultimodalSpec asserts the file counts actually
    * collapsed 16 → 2.
    *
    * The fragment/compacted cache dirs for `dir`'s events table — the
    * single source of truth for the fingerprint naming, shared with
    * CoverageMultimodalSpec so the spec can never drift from the
    * operator's cache key again (round 6 re-keyed the cache but left
    * the spec probing the old `hashCode` names). */
  private[operators] def compactionDirs(dir: String): (String, String) = {
    // Cache key is a CONTENT fingerprint (source path + length +
    // mtime, SHA-256), not dir.hashCode: regenerating the dataset at
    // the same path changes the fingerprint and rebuilds, and two
    // distinct dirs can't alias.
    val src = new java.io.File(dir, "events.parquet")
    val key = s"graft-compact-v1:$dir:${src.length}:${src.lastModified}"
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes("UTF-8")).take(8).map("%02x".format(_))
      .mkString
    val tmp = System.getProperty("java.io.tmpdir")
    (s"$tmp/graft_frag_$digest", s"$tmp/graft_compact_$digest")
  }

  private[operators] def compactedEventsDir(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val (frag, comp) = compactionDirs(dir)
    val fragDir = Memo.publish(new java.io.File(frag).getName) { d =>
      events(s, dir)
        .selectExpr("event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts",
          "user_id", "value", "event_type")
        .repartition(16)
        .write.mode("overwrite").parquet(d.getPath)
    }
    Memo.publish(new java.io.File(comp).getName) { d =>
      s.read.parquet(fragDir.getPath)
        .repartition(2)
        .write.mode("overwrite").parquet(d.getPath)
    }.getPath
  }

  val maintenanceCompactFiles: Q = (s, dir) =>
    s.read.parquet(compactedEventsDir(s, dir))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6)))
          .cast(DoubleType).as("total_value"))
      .orderBy("event_type")

  val maintenanceCompactFilesOracle: String =
    """SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** NTILE bucketing: equal-frequency quartiles of account balance
    * within each market segment — the standard feature-binning /
    * cohort-assignment window. Per-group shuffle + in-partition rank,
    * no global sort. */
  val windowNtile: Q = (s, dir) => {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    t(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        ntile(4).over(w).cast(LongType).as("quartile"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  val windowNtileOracle: String =
    """SELECT c_mktsegment, c_custkey, c_acctbal,
       ntile(4) OVER (PARTITION BY c_mktsegment
         ORDER BY c_acctbal DESC, c_custkey ASC) AS quartile
       FROM customer ORDER BY c_mktsegment, c_custkey"""

  /** Windowed distinct count — Spark has no COUNT(DISTINCT) over windows,
    * so the idiom is size(collect_set() OVER w): distinct event types
    * each user has produced up to each event. */
  val windowDistinctCount: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        size(collect_set(col("event_type")).over(w)).cast(LongType)
          .as("types_so_far"))
      .orderBy("event_id")
  }

  val windowDistinctCountOracle: String =
    """SELECT event_id, user_id, event_type,
       len(list_distinct(list(event_type) OVER w)) AS types_so_far
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       ORDER BY event_id"""

  /** Rank-ratio window functions: percent_rank and cume_dist (exact
    * rational values — identical IEEE division in both engines). */
  val windowRankRatios: Q = (s, dir) => {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").asc, col("event_id").asc)
    events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("event_id")
  }

  val windowRankRatiosOracle: String =
    """SELECT event_id, event_type, value,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
       FROM events
       WINDOW w AS (PARTITION BY event_type ORDER BY value ASC, event_id ASC)
       ORDER BY event_id"""

  /** UNPIVOT / melt (wide → long): lineitem's three charge columns as
    * (measure, value) rows — the reshaping step the reference's client
    * does in pandas before plotting/scaling. */
  val unpivotMeasures: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") < 1000)
      .selectExpr("l_orderkey", "l_linenumber",
        """stack(3, 'extendedprice', l_extendedprice,
                    'discount', l_discount,
                    'tax', l_tax) AS (measure, val)""")
      .orderBy("l_orderkey", "l_linenumber", "measure", "val")

  val unpivotMeasuresOracle: String =
    """SELECT l_orderkey, l_linenumber, measure, val FROM (
         SELECT l_orderkey, l_linenumber,
           'extendedprice' AS measure, l_extendedprice AS val
         FROM lineitem WHERE l_orderkey < 1000
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'discount', l_discount
         FROM lineitem WHERE l_orderkey < 1000
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'tax', l_tax
         FROM lineitem WHERE l_orderkey < 1000)
       ORDER BY l_orderkey, l_linenumber, measure, val"""

  /** Top-k rows per group (top-3 orders by price per priority class) —
    * written as the declarative rank filter; Spark's InferWindowGroupLimit
    * stages it into Partial/Final WindowGroupLimit, so each partition
    * forwards only k candidate rows per group and the sort shuffle carries
    * O(k · groups · partitions), never the full table (asserted in
    * PlanSpec). */
  val topkPerGroup: Q = (s, dir) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 3)
      .select("o_orderpriority", "rnk", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "rnk")
  }

  val topkPerGroupOracle: String =
    """SELECT o_orderpriority,
       row_number() OVER (PARTITION BY o_orderpriority
         ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
       o_orderkey, o_totalprice
       FROM orders QUALIFY rnk <= 3
       ORDER BY o_orderpriority, rnk"""

  /** Join with a runtime Bloom filter: the optimizer injects a
    * bloom-build on the selective (filtered-orders) side and a
    * `might_contain` probe above the lineitem scan, so non-matching fact
    * rows die BEFORE the join shuffle — at 100 TB this is the difference
    * between shuffling the whole fact table and shuffling the ~1% that
    * can match. Runs on an isolated session (newSession: fresh SQL conf,
    * shared context) because injection requires the shuffle-join shape —
    * a broadcast join would use DPP instead — and the scan-size
    * thresholds are tuned for petabyte defaults, not test files. */
  val joinRuntimeBloom: Q = (s, dir) => {
    val iso = s.newSession()
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    iso.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    t(iso, dir, "lineitem")
      .join(t(iso, dir, "orders").filter("o_totalprice > 400000"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        graft.sources.Tables.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  val joinRuntimeBloomOracle: String =
    """SELECT o_orderpriority, count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE o_totalprice > 400000
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Dynamic partition pruning: the fact side is the hive-partitioned
    * events layout, the dim side is a small category table with an
    * independent filter — at runtime the optimizer turns the dim's
    * surviving keys into a partition filter on the fact scan
    * (`PartitionFilters: [... dynamicpruning ...]`), so only the matching
    * partition directories are read. At 100 TB this is the
    * date/tenant-partitioned-fact ⋈ filtered-dim pattern: the fact scan
    * cost tracks the dim filter's selectivity, not the table size. Both
    * sides are real parquet scans (DPP's benefit heuristic compares scan
    * sizes, so a purely in-memory dim would not trigger it). */
  val joinDppPrune: Q = (s, dir) => {
    val fact = s.read.parquet(partitionedEventsDir(s, dir))
    // the dim rows are constant, so one memo serves every corpus
    val dimPath = Memo.publish("graft_dim_dpp") { d =>
      import s.implicits._
      Seq(("click", "engagement"), ("view", "engagement"),
        ("purchase", "revenue"), ("signup", "acquisition"),
        ("error", "ops"))
        .toDF("event_type", "category")
        .coalesce(1).write.mode("overwrite").parquet(d.getPath)
    }.getPath
    val dim = s.read.parquet(dimPath).filter(col("category") === "revenue")
    fact.join(dim, "event_type")
      .groupBy("event_type", "category")
      .agg(count(lit(1)).as("n_events"),
        graft.sources.Tables.dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  val joinDppPruneOracle: String =
    """WITH dim AS (SELECT * FROM (VALUES
         ('click','engagement'), ('view','engagement'),
         ('purchase','revenue'), ('signup','acquisition'),
         ('error','ops')) AS t(event_type, category))
       SELECT e.event_type, d.category, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events e JOIN dim d USING (event_type)
       WHERE d.category = 'revenue'
       GROUP BY 1, 2 ORDER BY e.event_type"""

  /** Recursive CTE (WITH RECURSIVE, Spark 4): transitive closure over the
    * verified MinHash near-dup pair graph — every head (no incoming edge)
    * to every reachable member. The SQL-native form of the
    * connected-components pass (Dedup.clusters is the DataFrame
    * hook-and-contract version for big graphs; recursion fits when the
    * component diameter is small, as near-dup chains are). */
  /** Parameterized SQL — the engine-side analog of Trino/JDBC
    * PREPARE + EXECUTE: one SQL text with NAMED parameter markers
    * (`:status`, `:lo`, `:hi`), bound at execution via Spark 4's
    * parameterized `spark.sql(text, args)`. The binding layer (not
    * string interpolation) is the point: values arrive as Scala
    * literals, so a malicious status string cannot alter the query
    * shape — the same injection-safety contract PREPARE gives the
    * reference's DBAPI clients (`localTrinoTest.ipynb` builds its SQL
    * by hand; a production client parameterizes). */
  val sqlParameterized: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("orders_param")
    s.sql(
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
         FROM orders_param
         WHERE o_orderstatus = :status
           AND o_orderdate >= :lo AND o_orderdate < :hi
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
      Map(
        "status" -> "F",
        "lo" -> java.sql.Date.valueOf("1994-01-01"),
        "hi" -> java.sql.Date.valueOf("1996-01-01")))
  }

  val sqlParameterizedOracle: String =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
       FROM orders
       WHERE o_orderstatus = 'F'
         AND CAST(o_orderdate AS DATE) >= DATE '1994-01-01'
         AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
       GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** ANALYZE + catalog statistics — the Trino `ANALYZE` / `SHOW STATS
    * FOR` surface: table and column statistics are COMPUTED by the
    * engine (`ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`), stored
    * in the catalog, and read back as a relation. Row count, min/max
    * and null count are exact by construction; the distinct count is
    * the HLL estimate, exact here because the column holds 3 values —
    * the oracle recomputes every figure from the raw table, so a pass
    * proves the stats pipeline measures the data, not a cache. These
    * are the numbers Catalyst's CBO joins/broadcasts plan from. */
  val metaAnalyzeStats: Q = (s, dir) => {
    // corpus fingerprint in the name: a metastore surviving across
    // data dirs (sf0.1 then sf1) must never serve a table whose baked
    // LOCATION points at the PREVIOUS corpus (advisor round 10)
    val tbl =
      s"graft_orders_stats_${graft.sources.Tables.fingerprint(dir, "orders")}"
    s.sql(s"""CREATE TABLE IF NOT EXISTS spark_catalog.default.$tbl
              USING parquet LOCATION '$dir/orders.parquet'""")
    s.sql(s"""ANALYZE TABLE spark_catalog.default.$tbl
              COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_orderstatus""")
    val st = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl, Some("default")))
      .stats.getOrElse(sys.error(s"ANALYZE left no stats on $tbl"))
    val key = st.colStats("o_orderkey")
    val status = st.colStats("o_orderstatus")
    import s.implicits._
    Seq((st.rowCount.get.toLong,
      key.min.get.toLong, key.max.get.toLong,
      status.distinctCount.get.toLong,
      status.nullCount.get.toLong))
      .toDF("row_count", "min_key", "max_key", "nd_status", "null_status")
  }

  val metaAnalyzeStatsOracle: String =
    """SELECT CAST(count(*) AS BIGINT) AS row_count,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
       CAST(count(*) - count(o_orderstatus) AS BIGINT) AS null_status
       FROM orders"""

  /** The ANALYZE stats actually DRIVING a plan — the Trino-CBO loop
    * closed: both sides of a fact⋈fact join are registered as catalog
    * tables, `ANALYZE TABLE … FOR COLUMNS` computes row counts and
    * column min/max/ndv, and the session's cost-based optimizer
    * ([[graft.sources.Tables.sessionConf]] `spark.sql.cbo.enabled`)
    * estimates the DATE filter's selectivity from the o_orderdate
    * range — shrinking the filtered orders side far below the
    * broadcast threshold that its 281 KB file-size estimate exceeds,
    * so the join plans as a broadcast hash join instead of shuffling
    * both sides (PlanSpec pins the stats-off SMJ vs stats-on BHJ plan
    * difference with a controlled threshold; this query RUNS on the
    * stats-on plan and oracle-checks its result). */
  val cboStatsJoin: Q = (s, dir) => {
    val ot = s"graft_cbo_orders_" +
      graft.sources.Tables.fingerprint(dir, "orders")
    val lt = s"graft_cbo_lineitem_" +
      graft.sources.Tables.fingerprint(dir, "lineitem")
    s.sql(s"""CREATE TABLE IF NOT EXISTS spark_catalog.default.$ot
              USING parquet LOCATION '$dir/orders.parquet'""")
    s.sql(s"""CREATE TABLE IF NOT EXISTS spark_catalog.default.$lt
              USING parquet LOCATION '$dir/lineitem.parquet'""")
    // stats on the BIGINT key + priority only: Spark 4.1's
    // FilterEstimation throws MatchError estimating over an analyzed
    // TimestampNTZ column (PlanSpec reproduces it) — NTZ columns must
    // stay stats-less under CBO
    s.sql(s"""ANALYZE TABLE spark_catalog.default.$ot
              COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_orderpriority""")
    s.sql(s"""ANALYZE TABLE spark_catalog.default.$lt
              COMPUTE STATISTICS FOR COLUMNS l_orderkey""")
    s.sql(s"""SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS revenue
              FROM spark_catalog.default.$lt l
              JOIN spark_catalog.default.$ot o
                ON l.l_orderkey = o.o_orderkey
              WHERE o.o_orderkey < 1000
              GROUP BY o.o_orderpriority
              ORDER BY o.o_orderpriority""")
  }

  val cboStatsJoinOracle: String =
    """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       WHERE o.o_orderkey < 1000
       GROUP BY o.o_orderpriority
       ORDER BY o.o_orderpriority"""

  /** NOT IN subquery under ANSI three-valued logic — the classic
    * correctness trap every engine must get right: `x NOT IN (S)` is
    * the conjunction of `x <> s` over S, so a single NULL in S makes
    * the predicate UNKNOWN for every non-member and the filter drops
    * ALL of them. One query pins both sides: the null-free subquery
    * behaves as an anti join; the same subquery with one NULL injected
    * returns zero rows. Both engines implement the standard, so the
    * oracle is the identical SQL. */
  val subqueryNotInNull: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("orders_nin")
    t(s, dir, "customer").createOrReplaceTempView("customer_nin")
    s.sql(
      """SELECT 'no_nulls' AS variant, CAST(count(*) AS BIGINT) AS n
         FROM orders_nin
         WHERE o_custkey NOT IN
           (SELECT c_custkey FROM customer_nin WHERE c_custkey % 3 = 0)
         UNION ALL
         SELECT 'with_null', CAST(count(*) AS BIGINT)
         FROM orders_nin
         WHERE o_custkey NOT IN
           (SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL
                   ELSE c_custkey END
            FROM customer_nin)
         ORDER BY variant""")
  }

  val subqueryNotInNullOracle: String =
    """SELECT 'no_nulls' AS variant, CAST(count(*) AS BIGINT) AS n
       FROM orders
       WHERE o_custkey NOT IN
         (SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0)
       UNION ALL
       SELECT 'with_null', CAST(count(*) AS BIGINT)
       FROM orders
       WHERE o_custkey NOT IN
         (SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL
                 ELSE c_custkey END
          FROM customer)
       ORDER BY variant"""

  val recursiveCte: Q = (s, dir) => {
    // seed from the memoized verified-pairs TABLE (Dedup.verifiedPairs)
    // — the recursion demonstrates reachability SQL, not the minhash
    // chain, and the production reach job reads the materialized pair
    // table rather than re-verifying the corpus
    Dedup.verifiedPairs(s, dir).select("d1", "d2")
      .createOrReplaceTempView("pairs_rc")
    s.sql(
      """WITH RECURSIVE reach (head, member) AS (
           SELECT d1, d2 FROM pairs_rc
           WHERE d1 NOT IN (SELECT d2 FROM pairs_rc)
           UNION ALL
           SELECT r.head, p.d2 FROM reach r
           JOIN pairs_rc p ON r.member = p.d1
         )
         SELECT DISTINCT head, member FROM reach
         ORDER BY head, member""")
  }

  val recursiveCteOracle: String =
    s"""WITH RECURSIVE ${Dedup.minhashScoredCte},
       pairs AS (SELECT d1, d2 FROM scored WHERE jaccard >= 0.8),
       reach (head, member) AS (
         SELECT d1, d2 FROM pairs
         WHERE d1 NOT IN (SELECT d2 FROM pairs)
         UNION ALL
         SELECT r.head, p.d2 FROM reach r JOIN pairs p ON r.member = p.d1
       )
       SELECT DISTINCT head, member FROM reach
       ORDER BY head, member"""

  /** LATERAL correlated subquery: top-2 suppliers by balance per nation
    * — the per-row-subquery SQL surface (Trino/Postgres LATERAL). */
  val lateralJoin: Q = (s, dir) => {
    graft.sources.Tables.t(s, dir, "nation")
      .createOrReplaceTempView("nation_lat")
    graft.sources.Tables.t(s, dir, "supplier")
      .createOrReplaceTempView("supplier_lat")
    s.sql(
      """SELECT n.n_name, l.s_name, l.s_acctbal
         FROM nation_lat n
         JOIN LATERAL (
           SELECT s_name, s_acctbal FROM supplier_lat
           WHERE s_nationkey = n.n_nationkey
           ORDER BY s_acctbal DESC, s_name LIMIT 2) l
         ORDER BY n.n_name, l.s_acctbal DESC, l.s_name""")
  }

  val lateralJoinOracle: String =
    """SELECT n.n_name, l.s_name, l.s_acctbal
       FROM nation n
       JOIN LATERAL (
         SELECT s_name, s_acctbal FROM supplier
         WHERE s_nationkey = n.n_nationkey
         ORDER BY s_acctbal DESC, s_name LIMIT 2) l ON true
       ORDER BY n.n_name, l.s_acctbal DESC, l.s_name"""

  /** ANSI-mode error discipline with try_* escape hatches: the session
    * runs full ANSI (divide-by-zero/overflow/bad casts THROW — the
    * correctness default a warehouse engine wants), and try_divide /
    * try_cast give per-expression NULL-on-error semantics where dirty
    * data is expected. DuckDB's `/` and TRY_CAST carry the identical
    * NULL-on-error contract, so results hash-match. */
  val tryFuncsAnsi: Q = (s, dir) =>
    events(s, dir)
      .selectExpr("event_id",
        "try_divide(value, CAST(user_id % 3 AS DOUBLE)) AS safe_div",
        "try_cast(props AS INT) AS bad_cast",
        "try_cast(substring(event_type, 1, 1) AS INT) AS bad_cast2",
        "try_cast(CAST(user_id AS STRING) AS INT) AS good_cast")
      .orderBy("event_id")

  val tryFuncsAnsiOracle: String =
    """SELECT event_id,
       value / CAST(user_id % 3 AS DOUBLE) AS safe_div,
       TRY_CAST(props AS INT) AS bad_cast,
       TRY_CAST(substring(event_type, 1, 1) AS INT) AS bad_cast2,
       TRY_CAST(CAST(user_id AS VARCHAR) AS INT) AS good_cast
       FROM events ORDER BY event_id"""

  /** Fill-forward imputation (LOCF): error events null out their reading,
    * and `last_value(... ) IGNORE NULLS` carries the user's previous
    * non-null value forward — the time-series imputation the reference
    * does client-side with fillna (SURVEY §2.2). One shuffle on user_id. */
  val windowFillForward: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    events(s, dir)
      .withColumn("reading",
        expr("CASE WHEN event_type = 'error' THEN NULL ELSE value END"))
      .withColumn("reading_filled",
        last(col("reading"), ignoreNulls = true).over(w))
      .select("event_id", "user_id", "event_type", "reading",
        "reading_filled")
      .orderBy("event_id")
  }

  val windowFillForwardOracle: String =
    """SELECT event_id, user_id, event_type,
       CASE WHEN event_type = 'error' THEN NULL ELSE value END AS reading,
       last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END
         IGNORE NULLS) OVER (PARTITION BY user_id
           ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS reading_filled
       FROM events ORDER BY event_id"""

  /** Pure theta join (no equi-key): events banded into a 4-row tier
    * reference purely by `lo <= value < hi`. Spark plans
    * BroadcastNestedLoopJoin — correct for tiny broadcast-able reference
    * tables; with a large band table the banding trick
    * (join_range_banded) turns this into an equi-join instead. */
  val joinThetaBnl: Q = (s, dir) => {
    import s.implicits._
    val tiers = Seq(
      ("low", 0.0, 25.0), ("mid", 25.0, 50.0),
      ("high", 50.0, 100.0), ("extreme", 100.0, 1e9))
      .toDF("tier", "lo", "hi")
    events(s, dir)
      .join(broadcast(tiers),
        col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n_events"),
        graft.sources.Tables.dsum(col("value")).as("sum_value"))
      .orderBy("tier")
  }

  val joinThetaBnlOracle: String =
    """WITH tiers AS (SELECT * FROM (VALUES
         ('low', 0.0, 25.0), ('mid', 25.0, 50.0),
         ('high', 50.0, 100.0), ('extreme', 100.0, 1e9))
         AS t(tier, lo, hi))
       SELECT tier, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events e JOIN tiers t
         ON e.value >= t.lo AND e.value < t.hi
       GROUP BY tier ORDER BY tier"""

  /** Column-profile statistics (ANALYZE-style data-quality pass): one row
    * per profiled column with row/null/distinct counts and min/max —
    * computed in a single scan (all aggregates fused into one
    * partial+final hash aggregation), then unpivoted row-per-column. The
    * profile every ingestion pipeline runs before trusting a feed. */
  val profileColumnStats: Q = (s, dir) => {
    val one = events(s, dir).agg(
      count(lit(1)).as("n_rows"),
      // value
      sum(when(col("value").isNull, 1L).otherwise(0L)).as("value_nulls"),
      countDistinct(col("value")).as("value_ndv"),
      min("value").as("value_min"), max("value").as("value_max"),
      // user_id
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("uid_nulls"),
      countDistinct(col("user_id")).as("uid_ndv"),
      min("user_id").as("uid_min"), max("user_id").as("uid_max"),
      // event_type
      sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("et_nulls"),
      countDistinct(col("event_type")).as("et_ndv"),
      min("event_type").as("et_min"), max("event_type").as("et_max"))
    one.selectExpr(
      """explode(array(
           struct('event_type' AS column_name, n_rows, et_nulls AS n_nulls,
             et_ndv AS n_distinct, et_min AS min_str, et_max AS max_str),
           struct('user_id' AS column_name, n_rows, uid_nulls AS n_nulls,
             uid_ndv AS n_distinct, CAST(uid_min AS STRING) AS min_str,
             CAST(uid_max AS STRING) AS max_str),
           struct('value' AS column_name, n_rows, value_nulls AS n_nulls,
             value_ndv AS n_distinct, CAST(value_min AS STRING) AS min_str,
             CAST(value_max AS STRING) AS max_str)
         )) AS p""")
      .selectExpr("p.column_name", "p.n_rows", "p.n_nulls", "p.n_distinct",
        "p.min_str", "p.max_str")
      .orderBy("column_name")
  }

  val profileColumnStatsOracle: String =
    """WITH one AS (
         SELECT count(*) AS n_rows,
           count(*) FILTER (WHERE value IS NULL) AS value_nulls,
           count(DISTINCT value) AS value_ndv,
           CAST(min(value) AS VARCHAR) AS value_min,
           CAST(max(value) AS VARCHAR) AS value_max,
           count(*) FILTER (WHERE user_id IS NULL) AS uid_nulls,
           count(DISTINCT user_id) AS uid_ndv,
           CAST(min(user_id) AS VARCHAR) AS uid_min,
           CAST(max(user_id) AS VARCHAR) AS uid_max,
           count(*) FILTER (WHERE event_type IS NULL) AS et_nulls,
           count(DISTINCT event_type) AS et_ndv,
           min(event_type) AS et_min, max(event_type) AS et_max
         FROM events)
       SELECT 'event_type' AS column_name, n_rows, et_nulls AS n_nulls,
         et_ndv AS n_distinct, et_min AS min_str, et_max AS max_str
       FROM one
       UNION ALL
       SELECT 'user_id', n_rows, uid_nulls, uid_ndv, uid_min, uid_max
       FROM one
       UNION ALL
       SELECT 'value', n_rows, value_nulls, value_ndv, value_min, value_max
       FROM one
       ORDER BY column_name"""

  /** Catalog navigation (M1/M2, `vanilla_k8s_trino_demo_installation
    * .txt:764-766,771`): SHOW CATALOGS, then a USE round-trip (create a
    * schema, switch into it, read the current schema back, restore).
    * THREE real catalogs are listed since round 6: the parquet-backed
    * session catalog, the live Derby JDBC catalog
    * ([[graft.sources.GraftJdbcCatalog]]), and the Mongo-analog
    * document catalog ([[graft.sources.GraftMongoCatalog]], a fully
    * custom DSv2 connector) — the reference lists mongodb / trinodemo /
    * system next to each other,
    * `vanilla_k8s_trino_demo_installation.txt:764`; USE maps to
    * USE <database>. */
  val metaShowCatalogs: Q = (s, dir) => {
    graft.sources.Jdbc.registerCatalog(s, dir)
    graft.sources.Mongo.registerCatalog(s, dir)
    // register AND force-load the lake too: SHOW CATALOGS lists only
    // catalogs the CatalogManager has instantiated, and registry
    // iteration order decides whether a lake query ran first in a
    // shared session — loading all four HERE makes the listing
    // deterministic (surfaced round 11 when new lake keys shifted the
    // Map order)
    graft.sources.Lake.registerCatalog(s)
    s.sql("SHOW NAMESPACES IN graft_lake").collect(): Unit
    val before = s.catalog.currentDatabase
    s.sql("CREATE DATABASE IF NOT EXISTS graft_meta")
    s.sql("USE graft_meta")
    val current = s.catalog.currentDatabase
    s.sql(s"USE `$before`")
    s.sql("SHOW CATALOGS")
      .selectExpr("catalog AS catalog_name")
      .withColumn("used_schema", lit(current))
      .orderBy("catalog_name")
  }

  /** VIEW surface — Trino's CREATE [OR REPLACE] VIEW workflow (§2.11):
    * a PERSISTENT session-catalog view over the parquet source (name
    * fingerprinted — the stored definition must track the corpus, the
    * same staleness discipline as the stats fixtures), a TEMPORARY
    * view NESTED over it (aggregation over the view's projection), and
    * the read through the nested pair. Views are definitions, not
    * data: Catalyst inlines both at analysis, so the final plan is the
    * same pushdown-pruned scan+agg the written-out query gets —
    * asserted implicitly by the oracle recomputing from raw orders. */
  val metaViewRoundtrip: Q = (s, dir) => {
    val pv = "spark_catalog.default.graft_pview_" +
      graft.sources.Tables.fingerprint(dir, "orders")
    s.sql(s"""CREATE OR REPLACE VIEW $pv AS
              SELECT o_custkey, o_orderstatus,
                CAST(o_totalprice AS DECIMAL(18,2)) AS price
              FROM parquet.`$dir/orders.parquet`""")
    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_tview AS
              SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
                sum(price) AS total
              FROM $pv WHERE o_orderstatus = 'F'
              GROUP BY o_custkey""")
    s.sql("""SELECT o_custkey, n, CAST(total AS DOUBLE) AS total
             FROM graft_tview ORDER BY o_custkey""")
  }

  val metaViewRoundtripOracle: String =
    """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total
       FROM orders WHERE o_orderstatus = 'F'
       GROUP BY o_custkey ORDER BY o_custkey"""

  val metaShowCatalogsOracle: String =
    """SELECT * FROM (
         SELECT 'graft_jdbc' AS catalog_name, 'graft_meta' AS used_schema
         UNION ALL
         SELECT 'graft_lake', 'graft_meta'
         UNION ALL
         SELECT 'graft_mongo', 'graft_meta'
         UNION ALL
         SELECT 'spark_catalog', 'graft_meta')
       ORDER BY catalog_name"""

  /** Decimal mapping parity (`trinodemo.properties:5-6`:
    * `decimal-mapping=allow_overflow` + `decimal-rounding-mode=HALF_UP`):
    * pins (a) scale-reduction rounding is HALF_UP — ties away from zero
    * on BOTH signs (Spark `Decimal.changePrecision` uses HALF_UP; DuckDB
    * rounds half away from zero — identical on ties), and (b) a value
    * whose precision overflows the target type maps to NULL under
    * try-cast on both engines (the allow_overflow analog) — mixed
    * NULL/non-NULL across rows since only prices > 9999.99 overflow
    * DECIMAL(8,2) after ×100. Doubles enter through DECIMAL(18,2) first
    * (the repo-wide exact-decimal discipline), so every subsequent step
    * is exact decimal arithmetic on both sides.
    *
    * The decimal results are rendered to VARCHAR as the FINAL step on
    * both engine and oracle sides: the values are exact either way, but
    * drivers canonicalize DECIMAL binary layouts differently (scale /
    * trailing-zero representation), so the comparison hashes one
    * canonical textual form. Both engines print a DECIMAL(p,s) with
    * exactly s fractional digits, so the rendering is deterministic. */
  val decimalHalfUp: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") < 2000)
      .selectExpr(
        "l_orderkey",
        "CAST(l_linenumber AS BIGINT) AS l_linenumber",
        """CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(12,1))
           AS STRING) AS half_up_pos""",
        """CAST(CAST(CAST(-l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(12,1))
           AS STRING) AS half_up_neg""",
        """CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(10,0))
           AS STRING) AS half_up_int""",
        """CAST(TRY_CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
           CAST(100 AS DECIMAL(3,0)) AS DECIMAL(8,2)) AS STRING)
           AS overflow_null""")
      // duplicate (orderkey, linenumber) lines differ in price —
      // half_up_pos (ASCII digits, binary-collation-safe on both
      // engines) completes the total order
      .orderBy("l_orderkey", "l_linenumber", "half_up_pos")

  // DuckDB's decimal→decimal cast TRUNCATES on scale reduction (0.26 →
  // 0.2), unlike Spark's HALF_UP cast — so the oracle spells the HALF_UP
  // semantics explicitly via round() (half away from zero = HALF_UP on
  // both signs), casts to align the declared type, then renders to
  // VARCHAR so the hash compares the canonical text, not the engine's
  // decimal binary layout.
  val decimalHalfUpOracle: String =
    """SELECT l_orderkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       CAST(CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)), 1)
         AS DECIMAL(12,1)) AS VARCHAR) AS half_up_pos,
       CAST(CAST(round(CAST(-l_extendedprice AS DECIMAL(18,2)), 1)
         AS DECIMAL(12,1)) AS VARCHAR) AS half_up_neg,
       CAST(CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)), 0)
         AS DECIMAL(10,0)) AS VARCHAR) AS half_up_int,
       CAST(TRY_CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
         CAST(100 AS DECIMAL(3,0)) AS DECIMAL(8,2)) AS VARCHAR)
         AS overflow_null
       FROM lineitem WHERE l_orderkey < 2000
       ORDER BY l_orderkey, l_linenumber, half_up_pos"""

  /** Data-quality CONSTRAINT report — the expectation-validation pass a
    * training pipeline runs before ingest (Great-Expectations/dbt-test
    * semantics, declarative twin of [[profileColumnStats]] which
    * DESCRIBES instead of ASSERTING): six constraints over lineitem —
    * PK uniqueness, NOT NULL, two range checks, FK integrity to orders,
    * and the cross-table temporal rule ship-date ≥ order-date — each
    * reported as (constraint, n_violations, passed). The harness data
    * genuinely violates two of them (duplicate (orderkey, linenumber)
    * pairs and ship-before-order rows), so the report exercises both
    * outcomes.
    *
    * Scale shape (100 TB): ONE scan of the fact table and ONE
    * FK-keyed join to orders feed a SINGLE conditional aggregation —
    * adding constraints adds zero passes over the data (the same
    * one-pass discipline as profile_column_stats); the PK-uniqueness
    * count rides the same aggregate via count-distinct expansion. */
  val dqConstraintReport: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val od = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderdate"))
    val one = li.join(od, col("l_orderkey") === col("o_orderkey"),
        "left_outer")
      .agg(
        (count(lit(1)) -
          countDistinct(struct(col("l_orderkey"), col("l_linenumber"))))
          .as("pk_dup"),
        sum(when(col("l_quantity").isNull ||
          col("l_extendedprice").isNull || col("l_shipdate").isNull, 1L)
          .otherwise(0L)).as("nulls"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("qty_oor"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("disc_oor"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
          .as("fk_orphans"),
        sum(when(col("l_shipdate") < col("o_orderdate"), 1L)
          .otherwise(0L)).as("ship_before"))
    one.selectExpr(
      """explode(array(
           struct('fk_orderkey_in_orders' AS constraint_name,
             fk_orphans AS n_violations),
           struct('not_null_qty_price_shipdate' AS constraint_name,
             nulls AS n_violations),
           struct('pk_unique_orderkey_linenumber' AS constraint_name,
             pk_dup AS n_violations),
           struct('range_discount_0_to_0.1' AS constraint_name,
             disc_oor AS n_violations),
           struct('range_quantity_1_to_50' AS constraint_name,
             qty_oor AS n_violations),
           struct('ship_on_or_after_orderdate' AS constraint_name,
             ship_before AS n_violations)
         )) AS c""")
      .selectExpr("c.constraint_name", "c.n_violations",
        "c.n_violations = 0 AS passed")
      .orderBy("constraint_name")
  }

  val dqConstraintReportOracle: String =
    """WITH j AS (
         SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
           l.l_extendedprice, l.l_discount, l.l_shipdate,
           o.o_orderkey AS ok, o.o_orderdate
         FROM lineitem l LEFT JOIN orders o
           ON l.l_orderkey = o.o_orderkey),
       a AS (
         SELECT
           CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
             AS BIGINT) AS pk_dup,
           CAST(sum(CASE WHEN l_quantity IS NULL
             OR l_extendedprice IS NULL OR l_shipdate IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
           CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
             THEN 1 ELSE 0 END) AS BIGINT) AS qty_oor,
           CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
             THEN 1 ELSE 0 END) AS BIGINT) AS disc_oor,
           CAST(sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS fk_orphans,
           CAST(sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)
             AS BIGINT) AS ship_before
         FROM j)
       SELECT constraint_name, n_violations, n_violations = 0 AS passed
       FROM (
         SELECT 'fk_orderkey_in_orders' AS constraint_name,
           fk_orphans AS n_violations FROM a
         UNION ALL SELECT 'not_null_qty_price_shipdate', nulls FROM a
         UNION ALL SELECT 'pk_unique_orderkey_linenumber', pk_dup FROM a
         UNION ALL SELECT 'range_discount_0_to_0.1', disc_oor FROM a
         UNION ALL SELECT 'range_quantity_1_to_50', qty_oor FROM a
         UNION ALL SELECT 'ship_on_or_after_orderdate', ship_before FROM a)
       ORDER BY constraint_name"""

  /** TIME-WINDOWED conversion funnel — the bounded-window variant of
    * [[Aggregates.funnelConversion]] (which checks ordering only): each
    * stage must convert within 1 day of the previous stage's first
    * occurrence, the standard product-analytics semantics (cf. the
    * reference's events/time-bounded scan surface,
    * `trino/kafka/weatherdata.json` + the cron'd producer scripts).
    * Stages: first `view` per user, first `click` within 1 day AFTER
    * it, first `purchase` within 1 day after THAT. Output is one row
    * per stage with the surviving-user count — integers only, no ratio
    * doubles, so the hash compare is exact by construction.
    *
    * Scale shape (100 TB): each stage is one user_id-keyed aggregation;
    * stage tables shrink monotonically (150 → 60 → 25 here) and every
    * join is keyed on user_id, so after the first shuffle the stage
    * chain reuses the same hash partitioning — no broadcast needed,
    * no per-user event list ever materializes. */
  val funnelWindowed: Q = (s, dir) => {
    val ev = events(s, dir).select("user_id", "event_type", "ts")
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts") > col("t1") &&
        col("ts") <= col("t1") + expr("INTERVAL '1' DAY"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ts") > col("t2") &&
        col("ts") <= col("t2") + expr("INTERVAL '1' DAY"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    s1.agg(count(lit(1)).as("n_users"))
      .selectExpr("'1_view' AS stage", "n_users")
      .unionAll(s2.agg(count(lit(1)).as("n_users"))
        .selectExpr("'2_click' AS stage", "n_users"))
      .unionAll(s3.agg(count(lit(1)).as("n_users"))
        .selectExpr("'3_purchase' AS stage", "n_users"))
      .orderBy("stage")
  }

  val funnelWindowedOracle: String =
    """WITH ev AS (
         SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
         FROM events),
       s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
              WHERE event_type = 'view' GROUP BY user_id),
       s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e
              JOIN s1 USING (user_id)
              WHERE e.event_type = 'click' AND e.ts > t1
                AND e.ts <= t1 + INTERVAL 1 DAY GROUP BY e.user_id),
       s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e
              JOIN s2 USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > t2
                AND e.ts <= t2 + INTERVAL 1 DAY GROUP BY e.user_id)
       SELECT stage, n_users FROM (
         SELECT '1_view' AS stage, (SELECT count(*) FROM s1) AS n_users
         UNION ALL
         SELECT '2_click', (SELECT count(*) FROM s2)
         UNION ALL
         SELECT '3_purchase', (SELECT count(*) FROM s3))
       ORDER BY stage"""

  /** Event-type transition matrix (first-order Markov chain over the
    * clickstream): for each user, pair every event with the NEXT event
    * in their timeline, then count (from, to) transitions and express
    * each row's share of its from-type in integer micro-units
    * (`n·10⁶ div row_total` — exact integer division on both engines,
    * no floating rounding anywhere).
    *
    * Scale shape: ONE user_id-keyed window pass over events (the same
    * exchange sessionization uses — at scale these share a stage), then
    * an aggregation onto the |types|² transition space, which is tiny
    * and bounded regardless of corpus size. */
  val eventTransitions: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    events(s, dir)
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum("n").over(Window.partitionBy("from_type")))
      .selectExpr("from_type", "to_type", "n",
        "(n * 1000000) div tot AS p_micro")
      .orderBy("from_type", "to_type")
  }

  val eventTransitionsOracle: String =
    """WITH seq AS (
         SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC) AS to_type
         FROM events),
       counts AS (
         SELECT event_type AS from_type, to_type, count(*) AS n
         FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
       SELECT from_type, to_type, n,
         CAST((n * 1000000)
           // CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
           AS BIGINT) AS p_micro
       FROM counts ORDER BY from_type, to_type"""

  val queries: Map[String, Q] = Map(
    "funnel_windowed" -> funnelWindowed,
    "dq_constraint_report" -> dqConstraintReport,
    "event_transitions" -> eventTransitions,
    "meta_show_catalogs" -> metaShowCatalogs,
    "meta_view_roundtrip" -> metaViewRoundtrip,
    "decimal_halfup_overflow" -> decimalHalfUp,
    "profile_column_stats" -> profileColumnStats,
    "window_fill_forward" -> windowFillForward,
    "join_theta_bnl" -> joinThetaBnl,
    "sql_recursive_cte" -> recursiveCte,
    "sql_parameterized" -> sqlParameterized,
    "meta_analyze_stats" -> metaAnalyzeStats,
    "cbo_stats_join" -> cboStatsJoin,
    "subquery_not_in_null" -> subqueryNotInNull,
    "join_lateral_topk" -> lateralJoin,
    "try_funcs_ansi" -> tryFuncsAnsi,
    "join_dpp_prune" -> joinDppPrune,
    "topk_per_group" -> topkPerGroup,
    "join_runtime_bloom" -> joinRuntimeBloom,
    "orc_ingest" -> orcIngest,
    "json_ingest" -> jsonIngest,
    "avro_ingest" -> avroIngest,
    "xml_ingest" -> xmlIngest,
    "variant_extract" -> variantExtract,
    "sql_udf_banding" -> sqlUdfBanding,
    "unpivot_measures" -> unpivotMeasures,
    "window_distinct_count" -> windowDistinctCount,
    "window_rank_ratios" -> windowRankRatios,
    "partitioned_write_prune" -> partitionedWritePrune,
    "maintenance_compact_files" -> maintenanceCompactFiles,
    "window_ntile" -> windowNtile,
    "join_null_safe" -> joinNullSafe,
    "incremental_agg_merge" -> incrementalAggMerge,
    "maintenance_zorder_key" -> maintenanceZorderKey,
    "string_pad_split" -> stringPadSplit,
    "bitwise_nullsafe" -> bitwiseNullsafe,
    "window_value_funcs" -> windowValueFuncs,
    "conditional_agg" -> conditionalAgg,
    "scalar_date_arith" -> scalarDateArith,
    "posexplode_tokens" -> posexplodeTokens,
    "min_by_max_by" -> minByMaxBy,
    "string_agg_sorted" -> stringAggSorted,
    "join_range_banded" -> joinRangeBanded,
    "session_window_agg" -> sessionWindowAgg,
    "join_salted" -> joinSalted,
    "join_bucketed" -> joinBucketed,
    "pivot_event_counts" -> pivotEventCounts,
    "having_filter" -> havingFilter,
    "scalar_subquery" -> scalarSubquery,
    "csv_ingest" -> csvIngest,
    "grouping_sets_agg" -> groupingSets,
    "window_range_frame" -> windowRangeFrame,
    "array_funcs" -> arrayFuncs,
    "events_time_bounded" -> eventsTimeBounded,
    "map_funcs" -> mapFuncs,
    "subquery_exists" -> subqueryExists,
    "meta_create_insert" -> metaCreateInsert,
    "meta_show_tables" -> metaShowTables)

  val oracles: Map[String, String] = Map(
    "funnel_windowed" -> funnelWindowedOracle,
    "dq_constraint_report" -> dqConstraintReportOracle,
    "event_transitions" -> eventTransitionsOracle,
    "meta_show_catalogs" -> metaShowCatalogsOracle,
    "meta_view_roundtrip" -> metaViewRoundtripOracle,
    "decimal_halfup_overflow" -> decimalHalfUpOracle,
    "profile_column_stats" -> profileColumnStatsOracle,
    "window_fill_forward" -> windowFillForwardOracle,
    "join_theta_bnl" -> joinThetaBnlOracle,
    "sql_recursive_cte" -> recursiveCteOracle,
    "sql_parameterized" -> sqlParameterizedOracle,
    "meta_analyze_stats" -> metaAnalyzeStatsOracle,
    "cbo_stats_join" -> cboStatsJoinOracle,
    "subquery_not_in_null" -> subqueryNotInNullOracle,
    "join_lateral_topk" -> lateralJoinOracle,
    "try_funcs_ansi" -> tryFuncsAnsiOracle,
    "join_dpp_prune" -> joinDppPruneOracle,
    "topk_per_group" -> topkPerGroupOracle,
    "join_runtime_bloom" -> joinRuntimeBloomOracle,
    "orc_ingest" -> orcIngestOracle,
    "json_ingest" -> jsonIngestOracle,
    "avro_ingest" -> avroIngestOracle,
    "xml_ingest" -> xmlIngestOracle,
    "variant_extract" -> variantExtractOracle,
    "sql_udf_banding" -> sqlUdfBandingOracle,
    "unpivot_measures" -> unpivotMeasuresOracle,
    "window_distinct_count" -> windowDistinctCountOracle,
    "window_rank_ratios" -> windowRankRatiosOracle,
    "partitioned_write_prune" -> partitionedWritePruneOracle,
    "maintenance_compact_files" -> maintenanceCompactFilesOracle,
    "window_ntile" -> windowNtileOracle,
    "join_null_safe" -> joinNullSafeOracle,
    "incremental_agg_merge" -> incrementalAggMergeOracle,
    "maintenance_zorder_key" -> maintenanceZorderKeyOracle,
    "string_pad_split" -> stringPadSplitOracle,
    "bitwise_nullsafe" -> bitwiseNullsafeOracle,
    "window_value_funcs" -> windowValueFuncsOracle,
    "conditional_agg" -> conditionalAggOracle,
    "scalar_date_arith" -> scalarDateArithOracle,
    "posexplode_tokens" -> posexplodeTokensOracle,
    "min_by_max_by" -> minByMaxByOracle,
    "string_agg_sorted" -> stringAggSortedOracle,
    "join_range_banded" -> joinRangeBandedOracle,
    "session_window_agg" -> sessionWindowAggOracle,
    "join_salted" -> joinSaltedOracle,
    "join_bucketed" -> joinBucketedOracle,
    "pivot_event_counts" -> pivotEventCountsOracle,
    "having_filter" -> havingFilterOracle,
    "scalar_subquery" -> scalarSubqueryOracle,
    "csv_ingest" -> csvIngestOracle,
    "grouping_sets_agg" -> groupingSetsOracle,
    "window_range_frame" -> windowRangeFrameOracle,
    "array_funcs" -> arrayFuncsOracle,
    "events_time_bounded" -> eventsTimeBoundedOracle,
    "map_funcs" -> mapFuncsOracle,
    "subquery_exists" -> subqueryExistsOracle,
    "meta_create_insert" -> metaCreateInsertOracle,
    "meta_show_tables" -> metaShowTablesOracle)
}
