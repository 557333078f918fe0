package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Op, Q}
import graft.sources.Tables.{t, events, dsum, davg}

/** Relational core: the operator surface exercised by the reference's five
  * queries + client dataflow (SURVEY.md §2.0–§2.3, §2.6–§2.8), re-expressed
  * over the harness star schema. Every operator is a declarative
  * DataFrame pipeline — Catalyst handles pushdown, pruning, join strategy
  * (broadcast below threshold), and AQE re-planning; nothing here
  * hand-schedules execution.
  *
  * Determinism contract with the DuckDB oracle (SURVEY.md §7.5):
  *  - every query ends in a total ORDER BY over a non-null unique key,
  *    with Spark's null ordering (NULLS FIRST on ASC, NULLS LAST on DESC)
  *    spelled out in the SQL twin;
  *  - double aggregation goes through DECIMAL(18,2) (exact, order-free);
  *  - libm-backed scalars (ln/exp/pow) are rounded to 6 dp on both sides.
  */
object Relational {

  private val D = "timestamp_ntz" // harness date columns are parquet NTZ

  // ---------------------------------------------------------------- queries

  /** Flagship Q1 analog (reference `localTrinoTest.ipynb:119-121`):
    * fact ⋈ dim equi-join + date predicate + projection + total sort.
    * orders is the small side at any SF ratio (1:4 vs lineitem) but still
    * scales with SF, so no broadcast pin — AQE picks SMJ/BHJ by stats. */
  val q1JoinFilterSort: Q = (s, dir) => {
    val l = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .filter(o("o_orderdate") < lit("1999-01-01").cast(D))
      .select(o("o_orderkey"), o("o_orderdate"), o("o_totalprice"),
        l("l_linenumber"), l("l_quantity"), l("l_extendedprice"))
      // (orderkey, linenumber) repeats in the synthetic lineitem —
      // qty + price complete a total order over distinguishable rows
      // (RegistryGuardSpec audits every oracled query for this)
      .orderBy(col("o_orderkey").asc, col("l_linenumber").asc,
        col("l_quantity").asc, col("l_extendedprice").asc)
  }

  /** Column projection — narrow ReadSchema at the parquet scan. */
  val scanProject: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")

  /** SELECT * ... LIMIT k (reference M3 metadata smoke query). */
  val selectStarLimit: Q = (s, dir) =>
    t(s, dir, "orders").orderBy("o_orderkey").limit(5)

  /** Date-range conjunction (Q1/Q4 `<`/`>` date predicates + AND). */
  val filterDateRange: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(D) &&
              col("l_shipdate") <  lit("1997-01-01").cast(D))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")

  /** IN / BETWEEN / LIKE predicates (SURVEY §2.2 'A' row). */
  val filterInBetweenLike: Q = (s, dir) =>
    t(s, dir, "part")
      .filter(col("p_size").between(10, 30) &&
              col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
              col("p_name").like("%e%"))
      .select("p_partkey", "p_name", "p_brand", "p_size")
      .orderBy("p_partkey")

  /** CASE WHEN projection. */
  val caseWhenProject: Q = (s, dir) =>
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        when(col("o_totalprice") > 300000, "big")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("small").as("price_band"))
      .orderBy("o_orderkey")

  /** float32 casts (client casts every feature to float32,
    * `localTrinoTest.ipynb:128-129`). */
  val castFloat32: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").cast(FloatType).as("price_f32"),
        col("l_quantity").cast(FloatType).as("qty_f32"))
      .orderBy("l_orderkey", "l_linenumber", "price_f32", "qty_f32")

  /** String scalar functions (§2.8). */
  val scalarStringFuncs: Q = (s, dir) =>
    t(s, dir, "part")
      .select(col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        substring(col("p_name"), 1, 4).as("name_pfx"),
        expr("replace(p_name, ' ', '_')").as("name_snake"),
        length(col("p_name")).cast(LongType).as("name_len"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"))
      .orderBy("p_partkey")

  /** Date/time scalar functions (§2.8 date family). */
  val scalarDateFuncs: Q = (s, dir) =>
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("yr"),
        month(col("o_orderdate")).cast(LongType).as("mo"),
        dayofmonth(col("o_orderdate")).cast(LongType).as("dom"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        (col("o_orderdate") + expr("INTERVAL 5 DAYS")).as("plus5"))
      .orderBy("o_orderkey")

  /** Math scalar functions; libm outputs rounded for cross-engine parity. */
  val scalarMathFuncs: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        abs(col("l_quantity") - 25).as("qty_dev"),
        round(col("l_extendedprice") * 0.07, 2).as("fee"),
        sqrt(col("l_extendedprice")).as("price_sqrt"),
        round(log(col("l_extendedprice") + 1), 6).as("price_ln"),
        round(pow(col("l_discount") + 1, 3), 6).as("disc_cube"))
      .orderBy("l_orderkey", "l_linenumber", "qty_dev", "fee", "disc_cube")

  /** JSON field extraction over events.props (reference decodes JSON Kafka
    * messages by field map, `trino/kafka/weatherdata.json:5-54`). */
  val jsonExtract: Q = (s, dir) =>
    events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
      .orderBy("event_id")

  /** TPC-H Q3-style shipping-priority query: 3-way join, decimal-exact
    * revenue, group, top-10 — a realistic macro workload (plans as two
    * shuffles + WindowGroupLimit-free TakeOrdered after aggregation). */
  val q3ShippingPriority: Q = (s, dir) => {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1999-06-01").cast(D))
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1999-06-01").cast(D))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(l("l_orderkey"), o("o_orderdate"))
      .agg(sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(18, 2)) -
           col("l_discount").cast(DecimalType(18, 2)))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5-style local-supplier-volume: 6-way snowflake join with the
    * customer-and-supplier-same-nation condition, revenue per nation. */
  val q5LocalSupplier: Q = (s, dir) => {
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast(D) &&
              col("o_orderdate") < lit("1998-01-01").cast(D))
    val l = t(s, dir, "lineitem")
    val su = t(s, dir, "supplier")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .join(su, l("l_suppkey") === su("s_suppkey") &&
        c("c_nationkey") === su("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(n("n_name"))
      .agg(sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(18, 2)) -
           col("l_discount").cast(DecimalType(18, 2)))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  /** TPC-H Q6-style forecasting revenue: pure scan+filter+aggregate — the
    * canonical pushdown/codegen benchmark (no join, no shuffle beyond the
    * single-row final agg). */
  val q6ForecastRevenue: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(D) &&
              col("l_shipdate") < lit("1997-01-01").cast(D) &&
              col("l_discount").between(0.02, 0.04) &&
              col("l_quantity") < 25)
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          col("l_discount").cast(DecimalType(18, 2)))
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q7-style volume shipping: the deepest join tree in the macro
    * set (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ×2) with the
    * disjunctive cross-nation predicate that can only apply AFTER both
    * nation joins. Scale shape: both nation dims are pre-filtered to the
    * two named nations and broadcast (so the OR never blocks pushdown of
    * the cheap half), supplier is broadcast-sized, and the only real
    * shuffles are the two fact-side equi-joins; revenue sums in
    * DECIMAL(18,2) so grouping is order-independent and oracle-exact. */
  val q7VolumeShipping: Q = (s, dir) => {
    val pair = Seq("NATION_20", "NATION_11")
    val n1 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
      .selectExpr("n_nationkey AS s_nk", "n_name AS supp_nation")
    val n2 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
      .selectExpr("n_nationkey AS c_nk", "n_name AS cust_nation")
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast(D) &&
              col("l_shipdate") < lit("1997-01-01").cast(D))
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val su = t(s, dir, "supplier")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
      .join(broadcast(n1), su("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), c("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === "NATION_20" &&
               col("cust_nation") === "NATION_11") ||
              (col("supp_nation") === "NATION_11" &&
               col("cust_nation") === "NATION_20"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(18, 2)) -
           col("l_discount").cast(DecimalType(18, 2)))))
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q10-style returned-item reporting: which customers returned
    * the most revenue in a quarter — 4-way join (returned lineitems ⋈
    * date-bounded orders ⋈ customer ⋈ broadcast nation), decimal
    * revenue per customer, top-20. The returnflag and date filters both
    * reach their scans; the only wide shuffle is the customer-grain
    * aggregate. */
  val q10ReturnedItems: Q = (s, dir) => {
    val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast(D) &&
              col("o_orderdate") < lit("1996-07-01").cast(D))
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(c("c_custkey"), c("c_name"), n("n_name"))
      .agg(sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(18, 2)) -
           col("l_discount").cast(DecimalType(18, 2)))))
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** TPC-H Q14-style promotion effect: one scan-month of lineitem ⋈
    * part, CASE-gated decimal sums, a single percentage out — the
    * conditional-aggregate-over-join microbenchmark. */
  val q14PromoRevenue: Q = (s, dir) => {
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(D) &&
              col("l_shipdate") < lit("1996-03-01").cast(D))
    val p = t(s, dir, "part")
    l.join(p, l("l_partkey") === p("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO",
            col("l_extendedprice").cast(DecimalType(18, 2)) *
              (lit(1).cast(DecimalType(18, 2)) -
               col("l_discount").cast(DecimalType(18, 2))))
          .otherwise(lit(0).cast(DecimalType(18, 2))))
          .cast(DoubleType).as("promo_revenue"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(18, 2)) -
             col("l_discount").cast(DecimalType(18, 2))))
          .cast(DoubleType).as("total_revenue"))
      .selectExpr(
        "round(100.0 * promo_revenue / total_revenue, 6) AS promo_pct",
        "promo_revenue", "total_revenue")
  }

  /** TPC-H Q19-style discounted revenue: the OR-of-ANDs join predicate
    * (three brand/size/quantity bands) that stresses disjunctive
    * pushdown — Catalyst extracts the common `l_partkey = p_partkey`
    * equi-key so the join stays hash-based, with the disjunction as a
    * residual; the IN-able brand set is pushed to the part scan. */
  val q19DiscountedRevenue: Q = (s, dir) => {
    val l = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val bands =
      (p("p_brand") === "Brand#2" && p("p_size").between(1, 15) &&
        l("l_quantity").between(1, 11)) ||
      (p("p_brand") === "Brand#19" && p("p_size").between(1, 25) &&
        l("l_quantity").between(10, 20)) ||
      (p("p_brand") === "Brand#9" && p("p_size").between(1, 35) &&
        l("l_quantity").between(20, 30))
    l.join(broadcast(p), l("l_partkey") === p("p_partkey") && bands)
      .agg(sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(18, 2)) -
           col("l_discount").cast(DecimalType(18, 2)))))
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q18-style large-order customers: aggregate-HAVING subquery
    * driving a multi-join top-k. */
  val q18LargeOrders: Q = (s, dir) => {
    val l = t(s, dir, "lineitem")
    val bigOrders = l.groupBy("l_orderkey")
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 150)
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    o.join(bigOrders, o("o_orderkey") === bigOrders("l_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(c("c_custkey"), c("c_name"), o("o_orderkey"),
        o("o_orderdate"), o("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)
  }

  // ---- joins (§2.3) ----

  /** Snowflake dim chain customer→nation→region; both dims are tiny at any
    * SF (25 / 5 rows) — pinned broadcast keeps this shuffle-free. */
  val joinBroadcastDims: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(c("c_custkey"), c("c_name"), n("n_name").as("nation"),
        r("r_name").as("region"))
      .orderBy("c_custkey")
  }

  /** LEFT OUTER join preserving null rows (Q2 semantics: weather rows with
    * no stock row survive with nulls, `localTrinoTest.ipynb:1184-1186`). */
  val joinLeftOuter: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .select(c("c_custkey"), o("o_orderkey"), o("o_totalprice"))
      .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
  }

  /** Q4 semantics (`KubeflowStockPricePrediction.ipynb:786-788`): a
    * post-outer-join predicate on the NULLABLE side silently drops the
    * null-extended rows — kept outer+filter (not rewritten to inner) to
    * replicate the reference exactly; Catalyst's EliminateOuterJoin does
    * the inner-conversion under the hood. */
  val joinLeftOuterPostfilter: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .filter(o("o_orderdate") > lit("2000-01-01").cast(D))
      .select(c("c_custkey"), c("c_name"), o("o_orderkey"), o("o_orderdate"))
      .orderBy("c_custkey", "o_orderkey")
  }

  /** LEFT SEMI (EXISTS): customers having at least one urgent order. */
  val joinSemi: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** LEFT ANTI (NOT EXISTS): customers with no urgent order. */
  val joinAnti: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Cross join of the two mini-dims (bounded 5×25 — never do this on
    * fact tables; the similarity ops use blocking instead). */
  val joinCross: Q = (s, dir) =>
    t(s, dir, "region").crossJoin(t(s, dir, "nation"))
      .select(col("r_regionkey"), col("r_name"), col("n_nationkey"),
        col("n_name"))
      .orderBy("r_regionkey", "n_nationkey")

  /** AS-OF join (click → latest purchase at-or-before, same user),
    * implemented shuffle-once: tag + union + one window pass instead of a
    * range join (a range join would explode to |clicks|×|purchases| per
    * user before filtering; the union-window is O(n log n) in each
    * partition and needs a single hash partition by user_id — the 100 TB
    * plan). Ties at equal ts resolve purchase-first, matching ASOF's
    * inclusive `p.ts <= c.ts`. */
  val joinAsof: Q = (s, dir) => {
    val ev = events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        lit(1).as("side"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        lit(0).as("side"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("side").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    clicks.unionByName(purchases)
      .withColumn("p_ts",
        when(col("side") === 0, col("ts")))
      .withColumn("p_value",
        when(col("side") === 0, col("value")))
      .withColumn("purchase_ts", last("p_ts", ignoreNulls = true).over(w))
      .withColumn("purchase_value",
        last("p_value", ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select("event_id", "user_id", "ts", "value", "purchase_ts",
        "purchase_value")
      .orderBy("event_id")
  }

  /** NEAREST as-of join: each click matches the temporally CLOSEST
    * purchase of the same user in either direction (ties prefer the
    * past match, ASOF convention). Same shuffle-once shape as
    * [[joinAsof]] — tag + union + ONE hash partition by user_id — with
    * two window passes over the same sorted run (backward
    * last-non-null, forward first-non-null), then a per-row delta
    * comparison. A range join would be |clicks|×|purchases| per user
    * before filtering; this is O(n log n) per partition, the 100 TB
    * plan for bidirectional event alignment (sensor fusion, quote/trade
    * matching). */
  val joinAsofNearest: Q = (s, dir) => {
    val ev = events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        lit(1).as("side"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        lit(0).as("side"))
    val ord = Seq(col("ts").asc, col("side").asc, col("event_id").asc)
    val wPast = Window.partitionBy("user_id").orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wFut = Window.partitionBy("user_id").orderBy(ord: _*)
      .rowsBetween(0, Window.unboundedFollowing)
    clicks.unionByName(purchases)
      .withColumn("p_ts", when(col("side") === 0, col("ts")))
      .withColumn("p_v", when(col("side") === 0, col("value")))
      .withColumn("b_ts", last("p_ts", ignoreNulls = true).over(wPast))
      .withColumn("b_v", last("p_v", ignoreNulls = true).over(wPast))
      .withColumn("f_ts", first("p_ts", ignoreNulls = true).over(wFut))
      .withColumn("f_v", first("p_v", ignoreNulls = true).over(wFut))
      .filter(col("side") === 1)
      .selectExpr("event_id", "user_id", "ts",
        """CASE
             WHEN b_ts IS NULL AND f_ts IS NULL THEN CAST(NULL AS STRING)
             WHEN f_ts IS NULL THEN 'past'
             WHEN b_ts IS NULL THEN 'future'
             WHEN unix_micros(CAST(ts AS TIMESTAMP))
                  - unix_micros(CAST(b_ts AS TIMESTAMP))
               <= unix_micros(CAST(f_ts AS TIMESTAMP))
                  - unix_micros(CAST(ts AS TIMESTAMP)) THEN 'past'
             ELSE 'future' END AS direction""",
        "b_ts", "f_ts", "b_v", "f_v")
      .selectExpr("event_id", "user_id", "ts", "direction",
        """CASE direction WHEN 'past' THEN b_ts
           WHEN 'future' THEN f_ts END AS nearest_ts""",
        """CASE direction WHEN 'past' THEN b_v
           WHEN 'future' THEN f_v END AS nearest_value""")
      .orderBy("event_id")
  }

  /** FULL OUTER join — both sides' unmatched rows null-extended (customer
    * side restricted so right-only rows exist). */
  val joinFullOuter: Q = (s, dir) => {
    val c = t(s, dir, "customer").filter(col("c_custkey") < 1000)
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .select(c("c_custkey"), o("o_orderkey"), o("o_totalprice"))
      .orderBy(col("c_custkey").asc_nulls_first,
        col("o_orderkey").asc_nulls_first)
  }

  /** RIGHT OUTER join (the mirrored Q2 shape). */
  val joinRightOuter: Q = (s, dir) => {
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
    val c = t(s, dir, "customer").filter(col("c_custkey") < 1000)
    o.join(c, o("o_custkey") === c("c_custkey"), "right_outer")
      .select(c("c_custkey"), c("c_name"), o("o_orderkey"))
      .orderBy(col("c_custkey").asc,
        col("o_orderkey").asc_nulls_first)
  }

  /** Multiset set ops: EXCEPT ALL / INTERSECT ALL preserve multiplicity
    * (unlike the distinct variants). */
  val setopsAll: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val f = o.filter(col("o_orderstatus") === "F").select("o_custkey")
    val p = o.filter(col("o_orderstatus") === "P").select("o_custkey")
    f.exceptAll(p).withColumn("op", lit("except_all"))
      .unionByName(f.intersectAll(p).withColumn("op", lit("intersect_all")))
      .orderBy("op", "o_custkey")
  }

  /** Schema-evolution union (§2.7): two snapshots of a feed whose
    * schemas drifted — columns matched BY NAME, a column missing on one
    * side null-filled (`unionByName(allowMissingColumns)`; positional
    * UNION would silently misalign). The daily-ingest append every
    * long-lived pipeline eventually needs. */
  val unionByNameEvolved: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val v1 = o.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_orderstatus")
    // DOUBLE, not DECIMAL: the driver's hash canonicalizes DECIMAL
    // unstably across engines (the decimal_halfup_overflow lesson);
    // cents-scale values round-trip exactly through a double.
    val v2 = o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(12,2)").cast("double")
          .as("o_totalprice"),
        col("o_orderstatus")) // reordered + one new column
    v1.unionByName(v2, allowMissingColumns = true)
      .orderBy("o_orderkey")
  }

  val unionByNameEvolvedOracle: String =
    """SELECT * FROM (
         SELECT o_orderkey, o_orderstatus
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL BY NAME
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
           AS o_totalprice, o_orderstatus
         FROM orders WHERE o_orderkey % 2 = 1)
       ORDER BY o_orderkey"""

  // ---- null handling (§2.2 NULL row) ----

  /** fillna(0) analog (`localTrinoTest.ipynb:949`): nulls produced by the
    * outer join are filled engine-side. */
  val naFill: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .select(c("c_custkey"), o("o_orderkey"),
        coalesce(o("o_totalprice"), lit(0.0)).as("totalprice_filled"))
      .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
  }

  /** dropna() analog (`localTrinoTest.ipynb:1193`). */
  val naDrop: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .select(c("c_custkey"), o("o_orderkey"), o("o_totalprice"))
      .na.drop()
      .orderBy("c_custkey", "o_orderkey")
  }

  // ---- sorts / limits / top-k (§2.6) ----

  /** Multi-column global sort with mixed direction. */
  val orderbyMulti: Q = (s, dir) =>
    t(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy(col("o_orderstatus").asc, col("o_totalprice").desc,
        col("o_orderkey").asc)

  /** Top-k by price — Spark plans TakeOrderedAndProject (no global sort). */
  val topK: Q = (s, dir) =>
    t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  /** tail-k (client `data2predict[-10:]`, `localTrinoTest.ipynb:1194`):
    * last 10 by date, re-emitted ascending. */
  val tailK: Q = (s, dir) =>
    t(s, dir, "orders")
      .select("o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      .limit(10)
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)

  // ---- set ops (§2.7) ----

  /** UNION ALL via unionByName (client pd.concat, `localTrinoTest.ipynb:1494`). */
  val unionAll: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val hi = o.filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey"), lit("hi").as("bucket"))
    val lo = o.filter(col("o_totalprice") < 10000)
      .select(lit("lo").as("bucket"), col("o_orderkey")) // shuffled col order
    hi.unionByName(lo).orderBy("o_orderkey", "bucket")
  }

  /** UNION DISTINCT. */
  val unionDistinct: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    o.filter(col("o_totalprice") > 400000).select("o_custkey")
      .union(o.filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey"))
      .distinct()
      .orderBy("o_custkey")
  }

  val intersectKeys: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F").select("o_custkey")
      .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
      .orderBy("o_custkey")
  }

  val exceptKeys: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.select(col("c_custkey").as("k"))
      .except(o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k")))
      .orderBy("k")
  }

  // ------------------------------------------------------------ oracle SQL

  val ops: Seq[Op] = Seq(
    Op("q6_forecast_revenue", q6ForecastRevenue,
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         count(*) AS n_lines
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.02 AND 0.04
           AND l_quantity < 25"""),
    Op("q18_large_orders", q18LargeOrders,
      """WITH big AS (
           SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty
           FROM lineitem GROUP BY l_orderkey
           HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             > 150)
         SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, big.sum_qty
         FROM orders o
         JOIN big ON o.o_orderkey = big.l_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20"""),
    Op("q3_shipping_priority", q3ShippingPriority,
      """SELECT l.l_orderkey, o.o_orderdate,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
           AS DOUBLE) AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_mktsegment = 'BUILDING'
           AND o.o_orderdate < TIMESTAMP '1999-06-01'
           AND l.l_shipdate > TIMESTAMP '1999-06-01'
         GROUP BY l.l_orderkey, o.o_orderdate
         ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"""),
    Op("q5_local_supplier", q5LocalSupplier,
      """SELECT n.n_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
           AS DOUBLE) AS revenue
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
           AND c.c_nationkey = s.s_nationkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE r.r_name = 'ASIA'
           AND o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n.n_name
         ORDER BY revenue DESC, n_name ASC"""),
    Op("q7_volume_shipping", q7VolumeShipping,
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l.l_shipdate) AS INT) AS l_year,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
           AS DOUBLE) AS revenue,
         count(*) AS n_lines
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
         WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
           AND l.l_shipdate < TIMESTAMP '1997-01-01'
           AND ((n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_11') OR
                (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_20'))
         GROUP BY 1, 2, 3
         ORDER BY supp_nation, cust_nation, l_year"""),
    Op("q10_returned_items", q10ReturnedItems,
      """SELECT c.c_custkey, c.c_name, n.n_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
           AS DOUBLE) AS revenue,
         count(*) AS n_lines
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE l.l_returnflag = 'R'
           AND o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1996-07-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, c_custkey ASC
         LIMIT 20"""),
    Op("q14_promo_revenue", q14PromoRevenue,
      """WITH a AS (
         SELECT
           CAST(sum(CASE WHEN p.p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
               (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             AS promo_revenue,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE) AS total_revenue
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
           AND l.l_shipdate < TIMESTAMP '1996-03-01')
         SELECT round(100.0 * promo_revenue / total_revenue, 6)
           AS promo_pct, promo_revenue, total_revenue
         FROM a"""),
    Op("q19_discounted_revenue", q19DiscountedRevenue,
      """SELECT
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
           AS DOUBLE) AS revenue,
         count(*) AS n_lines
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 15
                AND l.l_quantity BETWEEN 1 AND 11)
            OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 25
                AND l.l_quantity BETWEEN 10 AND 20)
            OR (p.p_brand = 'Brand#9' AND p.p_size BETWEEN 1 AND 35
                AND l.l_quantity BETWEEN 20 AND 30)"""),
    Op("q1_join_filter_sort", q1JoinFilterSort,
      """SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice,
         l.l_linenumber, l.l_quantity, l.l_extendedprice
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE o.o_orderdate < TIMESTAMP '1999-01-01'
         ORDER BY o_orderkey ASC, l_linenumber ASC, l_quantity ASC,
           l_extendedprice ASC"""),
    Op("scan_project", scanProject,
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_extendedprice"""),
    Op("select_star_limit", selectStarLimit,
      "SELECT * FROM orders ORDER BY o_orderkey LIMIT 5"),
    Op("filter_date_range", filterDateRange,
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate <  TIMESTAMP '1997-01-01'
         ORDER BY l_orderkey, l_linenumber, l_shipdate, l_quantity"""),
    Op("filter_in_between_like", filterInBetweenLike,
      """SELECT p_partkey, p_name, p_brand, p_size FROM part
         WHERE p_size BETWEEN 10 AND 30
           AND p_brand IN ('Brand#1','Brand#2','Brand#3')
           AND p_name LIKE '%e%'
         ORDER BY p_partkey"""),
    Op("case_when_project", caseWhenProject,
      """SELECT o_orderkey,
         CASE WHEN o_totalprice > 300000 THEN 'big'
              WHEN o_totalprice > 100000 THEN 'mid'
              ELSE 'small' END AS price_band
         FROM orders ORDER BY o_orderkey"""),
    Op("cast_float32", castFloat32,
      """SELECT l_orderkey, l_linenumber,
         CAST(l_extendedprice AS FLOAT) AS price_f32,
         CAST(l_quantity AS FLOAT) AS qty_f32
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, price_f32, qty_f32"""),
    Op("scalar_string_funcs", scalarStringFuncs,
      """SELECT p_partkey, upper(p_name) AS name_upper,
         substring(p_name, 1, 4) AS name_pfx,
         replace(p_name, ' ', '_') AS name_snake,
         length(p_name) AS name_len,
         concat_ws('/', p_brand, p_type) AS brand_type
         FROM part ORDER BY p_partkey"""),
    Op("scalar_date_funcs", scalarDateFuncs,
      """SELECT o_orderkey,
         year(o_orderdate) AS yr, month(o_orderdate) AS mo,
         day(o_orderdate) AS dom,
         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
         o_orderdate + INTERVAL 5 DAY AS plus5
         FROM orders ORDER BY o_orderkey"""),
    Op("scalar_math_funcs", scalarMathFuncs,
      """SELECT l_orderkey, l_linenumber,
         abs(l_quantity - 25) AS qty_dev,
         round(l_extendedprice * 0.07, 2) AS fee,
         sqrt(l_extendedprice) AS price_sqrt,
         round(ln(l_extendedprice + 1), 6) AS price_ln,
         round(pow(l_discount + 1, 3), 6) AS disc_cube
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, qty_dev, fee, disc_cube"""),
    Op("json_extract", jsonExtract,
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
         FROM events ORDER BY event_id"""),
    Op("join_broadcast_dims", joinBroadcastDims,
      """SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region
         FROM customer c
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         ORDER BY c_custkey"""),
    Op("join_left_outer", joinLeftOuter,
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
         FROM customer c
         LEFT OUTER JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') o
           ON c.c_custkey = o.o_custkey
         ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST"""),
    Op("join_left_outer_postfilter", joinLeftOuterPostfilter,
      """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate
         FROM customer c LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
         WHERE o.o_orderdate > TIMESTAMP '2000-01-01'
         ORDER BY c_custkey, o_orderkey"""),
    Op("join_full_outer", joinFullOuter,
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
         FROM (SELECT * FROM customer WHERE c_custkey < 1000) c
         FULL OUTER JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') o
           ON c.c_custkey = o.o_custkey
         ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST"""),
    Op("join_right_outer", joinRightOuter,
      """SELECT c.c_custkey, c.c_name, o.o_orderkey
         FROM (SELECT * FROM orders WHERE o_orderstatus = 'F') o
         RIGHT OUTER JOIN (SELECT * FROM customer WHERE c_custkey < 1000) c
           ON o.o_custkey = c.c_custkey
         ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST"""),
    Op("setops_all", setopsAll,
      """SELECT * FROM (
           SELECT o_custkey, 'except_all' AS op FROM (
             SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             EXCEPT ALL
             SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
           UNION ALL
           SELECT o_custkey, 'intersect_all' AS op FROM (
             SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             INTERSECT ALL
             SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'))
         ORDER BY op, o_custkey"""),
    Op("union_by_name", unionByNameEvolved, unionByNameEvolvedOracle),
    Op("join_semi", joinSemi,
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey
             AND o.o_orderpriority = '1-URGENT')
         ORDER BY c_custkey"""),
    Op("join_anti", joinAnti,
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey
             AND o.o_orderpriority = '1-URGENT')
         ORDER BY c_custkey"""),
    Op("join_cross", joinCross,
      """SELECT r.r_regionkey, r.r_name, n.n_nationkey, n.n_name
         FROM region r CROSS JOIN nation n
         ORDER BY r_regionkey, n_nationkey"""),
    Op("join_asof", joinAsof,
      """WITH clicks AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events WHERE event_type = 'click'),
         purchases AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events WHERE event_type = 'purchase')
         SELECT c.event_id, c.user_id, c.ts, c.value,
                p.ts AS purchase_ts, p.value AS purchase_value
         FROM clicks c ASOF LEFT JOIN purchases p
           ON c.user_id = p.user_id AND p.ts <= c.ts
         ORDER BY c.event_id"""),
    Op("join_asof_nearest", joinAsofNearest,
      """WITH clicks AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'click'),
         purchases AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events WHERE event_type = 'purchase')
         SELECT c.event_id, c.user_id, c.ts,
                n.direction, n.nearest_ts, n.nearest_value
         FROM clicks c LEFT JOIN LATERAL (
           SELECT CASE WHEN p.ts <= c.ts THEN 'past' ELSE 'future' END
                    AS direction,
                  p.ts AS nearest_ts, p.value AS nearest_value
           FROM purchases p
           WHERE p.user_id = c.user_id
           ORDER BY CASE WHEN p.ts <= c.ts
                      THEN epoch_us(c.ts) - epoch_us(p.ts)
                      ELSE epoch_us(p.ts) - epoch_us(c.ts) END ASC,
                    (p.ts > c.ts) ASC,
                    -- ties at identical (user_id, ts): the engine's
                    -- window picks max event_id for 'past' (last in
                    -- (ts, event_id) order) and min for 'future'
                    -- (first) — by this point all tied rows share a
                    -- direction, so one signed key spells both
                    CASE WHEN p.ts <= c.ts THEN -p.event_id
                         ELSE p.event_id END ASC
           LIMIT 1) n ON true
         ORDER BY c.event_id"""),
    Op("na_fill", naFill,
      """SELECT c.c_custkey, o.o_orderkey,
         coalesce(o.o_totalprice, 0.0) AS totalprice_filled
         FROM customer c
         LEFT OUTER JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') o
           ON c.c_custkey = o.o_custkey
         ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST"""),
    Op("na_drop", naDrop,
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
         FROM customer c
         LEFT OUTER JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') o
           ON c.c_custkey = o.o_custkey
         WHERE c.c_custkey IS NOT NULL AND o.o_orderkey IS NOT NULL
           AND o.o_totalprice IS NOT NULL
         ORDER BY c_custkey, o_orderkey"""),
    Op("orderby_multi", orderbyMulti,
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC"""),
    Op("top_k", topK,
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"""),
    Op("tail_k", tailK,
      """SELECT * FROM (
           SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
           ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 10)
         ORDER BY o_orderdate ASC, o_orderkey ASC"""),
    Op("union_all", unionAll,
      """SELECT * FROM (
           SELECT o_orderkey, 'hi' AS bucket FROM orders
           WHERE o_totalprice > 400000
           UNION ALL
           SELECT o_orderkey, 'lo' AS bucket FROM orders
           WHERE o_totalprice < 10000)
         ORDER BY o_orderkey, bucket"""),
    Op("union_distinct", unionDistinct,
      """SELECT DISTINCT o_custkey FROM (
           SELECT o_custkey FROM orders WHERE o_totalprice > 400000
           UNION ALL
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
         ORDER BY o_custkey"""),
    Op("intersect_keys", intersectKeys,
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         ORDER BY o_custkey"""),
    Op("except_keys", exceptKeys,
      """SELECT c_custkey AS k FROM customer
         EXCEPT
         SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
         ORDER BY k"""))
}
