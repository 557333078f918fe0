package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Op, Q}
import graft.sources.Tables.{t, events, dsum, davg}

/** Aggregations, distinct/dedup, statistics and window functions
  * (SURVEY.md §2.4–§2.5). All group-bys are plain hash aggregates —
  * Spark does partial (map-side) + final aggregation automatically, which
  * is the 100 TB path: the shuffle carries one row per (partition × group),
  * not per input row. */
object Aggregates {

  /** TPC-H Q1-shaped grouped aggregate (sum/avg/count per flag+status).
    * Doubles are summed through DECIMAL(18,2) so the result is exact and
    * independent of partition order (oracle parity, SURVEY §7.5). */
  val groupbyAgg: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(18, 2)) -
             col("l_discount").cast(DecimalType(18, 2))))
          .cast(DoubleType).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** COUNT(DISTINCT) + plain counts per group. */
  val groupCountDistinct: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  /** ROLLUP subtotals (grand total + per-flag + per-flag-status). */
  val rollupAgg: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** ROLLUP with GROUPING_ID — the marker that disambiguates a
    * subtotal row's NULL from a NULL in the data (the standard-SQL
    * answer to the "which NULLs are structural" question every
    * reporting layer hits; Trino ships the same `grouping(...)`).
    * grouping_id() is the bit-vector over the grouping columns
    * (0 = detail, 1 = status rolled up, 3 = grand total). */
  val rollupGroupingId: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val rollupGroupingIdOracle: String =
    """SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       count(*) AS n,
       CAST(2 * grouping(l_returnflag) + grouping(l_linestatus)
         AS BIGINT) AS gid
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
       ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""

  /** CUBE over two dims. */
  val cubeAgg: Q = (s, dir) =>
    t(s, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** SELECT DISTINCT full-row dedup (Q2/Q3 collapse duplicate Kafka
    * messages, `localTrinoTest.ipynb:1184,1475`). */
  val distinctRows: Q = (s, dir) =>
    events(s, dir)
      .select("user_id", "event_type")
      .distinct()
      .orderBy("user_id", "event_type")

  /** Dedup-latest-by-key (`KubeflowStockPricePrediction.ipynb:548-549`:
    * sort by _timestamp, keep last per Date). One shuffle by key; the
    * rank-filter is the batch binding, Streams has the watermark binding. */
  val dedupLatestByKey: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "ts", "event_type", "value")
      .orderBy("user_id")
  }

  /** Global min/max/count (MinMaxScaler.fit analog,
    * `localTrinoTest.ipynb:467-472`). */
  val aggMinmaxGlobal: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .agg(
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        count(lit(1)).as("n"))

  /** Exact quantiles + median (RobustScaler.fit analog,
    * `KubeflowStockPricePrediction.ipynb:287-290`). Exact percentile (not
    * approx) so DuckDB's quantile_cont matches; rounded for libm parity. */
  val quantiles: Q = (s, dir) =>
    events(s, dir)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.25)"), 6).as("q25"),
        round(expr("percentile(value, 0.5)"), 6).as("median"),
        round(expr("percentile(value, 0.75)"), 6).as("q75"))
      .orderBy("event_type")

  /** The same three quantiles through the mergeable fixed-bucket histogram
    * sketch (graft.plans.HistQuantile, a TypedImperativeAggregate): 256
    * equi-width buckets over [0, 512) (w = 2.0), quantile read by linear
    * interpolation inside the containing bucket. Unlike exact percentile
    * (which shuffles and sorts every value per group), the sketch shuffles
    * one 2 KB count vector per group — the 100 TB grouped-quantile path.
    * The oracle replays the identical histogram + interpolation in SQL, so
    * this custom aggregate is hash-checked, not rows-only. */
  val quantileHistSketch: Q = (s, dir) =>
    events(s, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(expr(
          "graft_hist_quantile(value, 0.0D, 512.0D, 256, 0.25D)"), 6)
          .as("q25"),
        round(expr(
          "graft_hist_quantile(value, 0.0D, 512.0D, 256, 0.5D)"), 6)
          .as("median"),
        round(expr(
          "graft_hist_quantile(value, 0.0D, 512.0D, 256, 0.75D)"), 6)
          .as("q75"))
      .orderBy("event_type")

  val quantileHistSketchOracle: String =
    """WITH b AS (
         SELECT event_type,
           LEAST(GREATEST(CAST(floor((value - 0.0) / 2.0) AS BIGINT), 0),
             255) AS bi,
           count(*) AS c
         FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n
             FROM b GROUP BY 1),
       cw AS (
         SELECT event_type, bi, c,
           CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bi)
             AS BIGINT) AS cum
         FROM b),
       qs AS (SELECT * FROM (VALUES (0.25), (0.5), (0.75)) AS v(q)),
       sel AS (
         SELECT cw.event_type, qs.q, cw.bi, cw.c, cw.cum - cw.c AS cumb,
           t.n
         FROM cw JOIN t USING (event_type) CROSS JOIN qs
         WHERE cw.cum >= qs.q * t.n
         QUALIFY row_number() OVER (PARTITION BY cw.event_type, qs.q
           ORDER BY cw.bi) = 1),
       est AS (
         SELECT event_type, q,
           round(0.0 + 2.0 * (bi + (q * n - cumb) / c), 6) AS est
         FROM sel)
       SELECT event_type, n,
         max(CASE WHEN q = 0.25 THEN est END) AS q25,
         max(CASE WHEN q = 0.5  THEN est END) AS median,
         max(CASE WHEN q = 0.75 THEN est END) AS q75
       FROM est JOIN t USING (event_type)
       GROUP BY event_type, n ORDER BY event_type"""

  /** Unknown-bounds variant: when [lo, hi) isn't known a priori, a cheap
    * min/max pre-pass (one scalar aggregate — the same two-phase planning
    * Spark itself uses to sample range-partition bounds) parameterizes
    * the sketch. The two doubles ride into the second job as plan-time
    * literals; Double.toString round-trips exactly, and the oracle
    * derives the identical bounds from its own min/max scalar subquery,
    * so the bucket boundaries agree bit-for-bit. */
  val quantileHistAuto: Q = (s, dir) => {
    val ev = events(s, dir)
    val r = ev.agg(min(col("value")), max(col("value"))).head
    if (r.isNullAt(0)) {
      // degenerate input (min/max NULL): either the table is empty or
      // EVERY value is NULL — the oracle filters value IS NOT NULL and
      // so emits zero rows in both cases; match it exactly (grouping the
      // unfiltered frame would emit one (event_type, n, NULL) row per
      // group of all-NULL values)
      ev.filter(col("value").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          lit(null).cast("double").as("p50"))
        .orderBy("event_type")
    } else {
      val lo = r.getDouble(0)
      // all-equal input would give hi == lo (zero bucket width); widen to
      // lo+1 — every value lands in bucket 0 and the interpolated result
      // stays within one bucket width of the exact quantile. The oracle
      // applies the same hi==lo widening so bounds agree bit-for-bit.
      val hi = if (r.getDouble(1) > lo) r.getDouble(1) else lo + 1.0
      ev.groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          round(expr(
            s"graft_hist_quantile(value, ${lo}D, ${hi}D, 256, 0.5D)"), 6)
            .as("p50"))
        .orderBy("event_type")
    }
  }

  val quantileHistAutoOracle: String =
    """WITH bd AS (
         SELECT min(value) AS lo,
                CASE WHEN max(value) > min(value) THEN max(value)
                     ELSE min(value) + 1 END AS hi FROM events),
       b AS (
         SELECT event_type,
           LEAST(GREATEST(CAST(floor((value - bd.lo)
             / ((bd.hi - bd.lo) / 256)) AS BIGINT), 0), 255) AS bi,
           count(*) AS c
         FROM events, bd WHERE value IS NOT NULL GROUP BY 1, 2),
       t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n
             FROM b GROUP BY 1),
       cw AS (
         SELECT event_type, bi, c,
           CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bi)
             AS BIGINT) AS cum
         FROM b),
       sel AS (
         SELECT cw.event_type, cw.bi, cw.c, cw.cum - cw.c AS cumb, t.n
         FROM cw JOIN t USING (event_type)
         WHERE cw.cum >= 0.5 * t.n
         QUALIFY row_number() OVER (PARTITION BY cw.event_type
           ORDER BY cw.bi) = 1)
       SELECT event_type, n,
         round(bd.lo + ((bd.hi - bd.lo) / 256)
           * (bi + (0.5 * n - cumb) / c), 6) AS p50
       FROM sel, bd ORDER BY event_type"""

  /** Pairwise Pearson correlation (client `both.corr()`,
    * `localTrinoTest.ipynb:438`) as a tidy single row. */
  val corrMatrix: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qty_price"),
        round(corr(col("l_quantity"), col("l_discount")), 6)
          .as("corr_qty_disc"),
        round(corr(col("l_extendedprice"), col("l_discount")), 6)
          .as("corr_price_disc"))

  /** HLL++ approximate distinct — sketch values are engine-specific, so no
    * SQL oracle (driver records rows-only). At 100 TB this replaces
    * COUNT(DISTINCT)'s full shuffle with a fixed-size sketch merge. */
  val approxCountDistinct: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
      .orderBy("l_returnflag")

  // ---- window functions (§2.5) ----

  /** rank / dense_rank / row_number / lag / lead over per-user event time. */
  val windowRankLagLead: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val wv = Window.partitionBy("user_id")
      .orderBy(col("value").desc, col("event_id").asc)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        row_number().over(w).cast(LongType).as("rn"),
        rank().over(wv).cast(LongType).as("value_rank"),
        dense_rank().over(wv).cast(LongType).as("value_dense_rank"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"))
      .orderBy("event_id")
  }

  /** Rolling 10-row sum/avg per user (decimal-exact — DuckDB evaluates
    * window aggs with a segment tree, so double summation order differs). */
  val windowRollingSum: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-9, 0)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast(DoubleType).as("rolling_sum"),
        count(lit(1)).over(w).as("rolling_n"))
      .orderBy("event_id")
  }

  /** Exact rolling median over a trailing 7-row window per user — the
    * robust-statistics sibling of the rolling mean (outlier-resistant
    * smoothing for monitoring/feature pipelines). Spark has no median
    * window function, so the idiom is sort_array(collect_list() OVER w)
    * + middle-element interpolation; the window is bounded (7 rows) so
    * per-row state is O(7), and the shuffle is the usual per-user
    * exchange. Both engines compute (lo+hi)/2 from the same sorted
    * array, rounded to 6 dp (DuckDB's QUANTILE_CONT interpolation is
    * the same arithmetic but not guaranteed the same instruction
    * order). */
  val windowRollingMedian: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-6, 0)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        sort_array(collect_list(col("value")).over(w)).as("arr"))
      .selectExpr("event_id", "user_id", "value",
        """round((element_at(arr, CAST((size(arr) + 1) div 2 AS INT)) +
                  element_at(arr, CAST(size(arr) div 2 + 1 AS INT))) / 2, 6)
           AS med7""")
      .orderBy("event_id")
  }

  val windowRollingMedianOracle: String =
    """SELECT event_id, user_id, value,
       round(median(value) OVER (PARTITION BY user_id
         ORDER BY ts ASC, event_id ASC
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med7
       FROM events ORDER BY event_id"""

  /** Truncated exponentially-weighted moving average (α = 0.3 over the
    * trailing 10 rows): the time-series smoother that weights recent
    * observations geometrically. True EWMA is a sequential recurrence;
    * the bounded-window truncation keeps it expressible as a per-row
    * weighted fold over the collected window (error ≤ 0.7¹⁰ ≈ 2.8 % of
    * the oldest weight), which is what keeps per-row state O(10) and
    * the whole thing one per-user exchange. Both engines run the same
    * left-to-right fold, so doubles agree bit-for-bit before the 6 dp
    * round. */
  val windowEwma: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-9, 0)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        collect_list(col("value")).over(w).as("arr"))
      .selectExpr("event_id", "user_id", "value",
        """round(
             aggregate(zip_with(arr, sequence(1, size(arr)),
                 (x, i) -> x * pow(0.7, size(arr) - i)),
               CAST(0 AS DOUBLE), (a, v) -> a + v)
             / aggregate(sequence(1, size(arr)),
                 CAST(0 AS DOUBLE),
                 (a, i) -> a + pow(0.7, size(arr) - i)), 6)
           AS ewma10""")
      .orderBy("event_id")
  }

  val windowEwmaOracle: String =
    """SELECT event_id, user_id, value,
       round(
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(range(1, len(arr) + 1),
             i -> arr[i] * pow(0.7, len(arr) - i))),
           (a, v) -> a + v)
         / list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(range(1, len(arr) + 1),
               i -> pow(0.7, len(arr) - i))),
             (a, v) -> a + v), 6) AS ewma10
       FROM (
         SELECT event_id, user_id, value,
           list(value) OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS arr
         FROM events)
       ORDER BY event_id"""

  /** Modal value per group (MODE aggregate): the most frequent
    * o_orderpriority within each order status, ties broken
    * lexicographically. Two partial+final hash aggregates + a rank-1
    * filter — never a per-group value collect, so group cardinality is
    * unbounded at scale (same shape as dedup-latest-by-key). */
  val aggMode: Q = (s, dir) => {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("n_occurrences").desc, col("mode_priority").asc)
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"))
      .agg(count(lit(1)).as("n_occurrences"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_orderstatus", "mode_priority", "n_occurrences")
      .orderBy("o_orderstatus")
  }

  val aggModeOracle: String =
    """SELECT o_orderstatus, mode_priority, n_occurrences FROM (
         SELECT o_orderstatus, o_orderpriority AS mode_priority,
           count(*) AS n_occurrences,
           row_number() OVER (PARTITION BY o_orderstatus
             ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
         FROM orders GROUP BY 1, 2)
       WHERE rn = 1 ORDER BY o_orderstatus"""

  /** Length-10 trailing sequence windows as arrays — the engine-side
    * replacement for the client's partition_dataset loop
    * (`localTrinoTest.ipynb:593-608`): each row carries the last 10 values
    * for its user, ready for tensorization. */
  val seqWindowArrays: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-9, 0)
    events(s, dir)
      .select(col("event_id"), col("user_id"),
        collect_list(col("value")).over(w).as("seq_arr"),
        count(lit(1)).over(w).as("seq_len"))
      .filter(col("seq_len") === 10)
      // emit the sequence as ','-joined µ-scaled bigints, not a raw array:
      // the driver's checker row-sorts results in pandas, where ndarray
      // cells are unhashable; element order and 1e-6 precision are still
      // fully compared
      .selectExpr("event_id", "user_id",
        """concat_ws(',', transform(seq_arr,
           x -> CAST(CAST(round(x * 1000000) AS BIGINT) AS STRING))) AS seq""",
        "seq_len")
      .orderBy("event_id")
  }

  /** Min-max feature scaling pushed server-side
    * (MinMaxScaler transform, `localTrinoTest.ipynb:467-472`): window
    * min/max per event_type are exact, the division is the same IEEE op in
    * both engines. */
  val scaleMinmax: Q = (s, dir) => {
    val w = Window.partitionBy("event_type")
    events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        ((col("value") - min(col("value")).over(w)) /
         (max(col("value")).over(w) - min(col("value")).over(w)))
          .as("value_scaled"))
      .orderBy("event_id")
  }

  /** Robust scaling: (x − median) / IQR per group
    * (`KubeflowStockPricePrediction.ipynb:287-290`). Group stats computed
    * once (tiny agg), then broadcast-joined back onto the fact — the
    * scalable shape (a window over the whole fact would re-sort it). */
  val scaleRobust: Q = (s, dir) => {
    val ev = events(s, dir)
    val stats = ev.groupBy("event_type")
      .agg(
        expr("percentile(value, 0.5)").as("med"),
        expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
    ev.join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        round((col("value") - col("med")) / (col("q3") - col("q1")), 6)
          .as("value_scaled"))
      .orderBy("event_id")
  }

  /** Per-table row counts (client len(df) checks). */
  val countRows: Q = (s, dir) => {
    val one = (n: String) =>
      t(s, dir, n).agg(count(lit(1)).as("n")).select(lit(n).as("tbl"), col("n"))
    one("lineitem").unionByName(one("orders")).unionByName(one("customer"))
      .orderBy("tbl")
  }

  /** KMV distinct-count sketch (custom TypedImperativeAggregate,
    * graft.plans.KmvDistinct) next to the exact count. Because the sketch
    * is built on the engine's md5-derived hash, the DuckDB oracle
    * reproduces the estimate EXACTLY — unlike HLL, whose register layout
    * is engine-specific. */
  val kmvDistinct: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("round(graft_kmv_distinct(CAST(l_partkey AS STRING)), 4)")
          .as("est_distinct"),
        countDistinct(col("l_partkey")).as("exact_distinct"))
      .orderBy("l_returnflag")

  val kmvDistinctOracle: String =
    s"""WITH h AS (
         SELECT DISTINCT l_returnflag,
           ${graft.functions.TextAnalysis.hex60Duck("CAST(l_partkey AS VARCHAR)")} AS h
         FROM lineitem),
       r AS (
         SELECT l_returnflag, h,
           row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
         FROM h),
       kk AS (
         SELECT l_returnflag, max(h) AS kth, count(*) AS n
         FROM r WHERE rn <= 1024 GROUP BY l_returnflag),
       ex AS (
         SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_distinct
         FROM lineitem GROUP BY l_returnflag)
       SELECT kk.l_returnflag,
         round(CASE WHEN kk.n < 1024 THEN CAST(kk.n AS DOUBLE)
               ELSE 1023 * pow(2, 60) / kk.kth END, 4) AS est_distinct,
         ex.exact_distinct
       FROM kk JOIN ex ON kk.l_returnflag = ex.l_returnflag
       ORDER BY kk.l_returnflag"""

  /** Exact distinct via compressed Roaring bitmaps
    * (graft.plans.BitmapDistinct) — exact like COUNT(DISTINCT), mergeable
    * like HLL. One aggregation pass, fixed-size state per group, no
    * expand-distinct double shuffle. */
  val bitmapExactDistinct: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("graft_bitmap_distinct(l_partkey)").as("nd_parts"))
      .orderBy("l_returnflag")

  val bitmapExactDistinctOracle: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_parts
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** The production incremental pattern the bitmaps exist for: build one
    * serialized partial bitmap per (flag, status) slice ONCE
    * (graft_bitmap_build — in production these persist per ingest
    * partition), then answer the coarser per-flag distinct by OR-merging
    * the partials (graft_bitmap_union_count) WITHOUT rescanning the fact
    * table. Exact at every level; at 100 TB the re-aggregation touches
    * only a few MB of bitmap bytes instead of the key stream. */
  val bitmapPartialUnion: Q = (s, dir) => {
    val partials = t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(expr("graft_bitmap_build(l_partkey)").as("bm"))
    partials
      .groupBy("l_returnflag")
      .agg(
        expr("graft_bitmap_union_count(bm)").as("nd_parts"),
        count(lit(1)).as("n_partials"))
      .orderBy("l_returnflag")
  }

  val bitmapPartialUnionOracle: String =
    """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS nd_parts,
         count(DISTINCT l_linestatus) AS n_partials
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** 64-bit twin (graft.plans.Bitmap64Distinct over Roaring64Bitmap,
    * the ART-backed implementation — NOT Roaring64NavigableMap, which
    * returns stale cardinalities after cross-sign-boundary merges; see
    * the caveat in Bitmap64Sketch.scala): same exact+mergeable
    * contract with NO key
    * ceiling — the 100 TB default, where id spaces exceed 2³¹ and the
    * 32-bit family's Math.toIntExact would (deliberately) throw. The
    * key here is a composite widened past 32 bits
    * (l_partkey + l_suppkey·2³²) so the query genuinely exercises
    * high-bit buckets, not just the int32 subrange. */
  val bitmapExactDistinct64: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr(
        "graft_bitmap_distinct64(l_partkey + l_suppkey * 4294967296L)")
        .as("nd_wide"))
      .orderBy("l_returnflag")

  val bitmapExactDistinct64Oracle: String =
    """SELECT l_returnflag,
         count(DISTINCT l_partkey + l_suppkey * 4294967296) AS nd_wide
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Incremental re-aggregation over 64-bit partials: per-(flag,status)
    * serialized bitmaps OR-merged to per-flag exact distincts — the
    * store-partials-rescan-nothing pattern at full BIGINT width. */
  val bitmapPartialUnion64: Q = (s, dir) => {
    val partials = t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(expr("graft_bitmap_build64(l_partkey + l_suppkey * 4294967296L)")
        .as("bm"))
    partials
      .groupBy("l_returnflag")
      .agg(
        expr("graft_bitmap_union_count64(bm)").as("nd_wide"),
        count(lit(1)).as("n_partials"))
      .orderBy("l_returnflag")
  }

  val bitmapPartialUnion64Oracle: String =
    """SELECT l_returnflag,
         count(DISTINCT l_partkey + l_suppkey * 4294967296) AS nd_wide,
         count(DISTINCT l_linestatus) AS n_partials
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Audience overlap via bitmap intersection (Trino's
    * `intersection_cardinality(setdigest)` analog, EXACT): build one
    * persisted user-id bitmap per event-type segment, then answer every
    * pairwise overlap with a few-MB bitmap AND
    * (graft_bitmap64_and_count) — the fact table is scanned ONCE for
    * all O(segments²) pairs; the naive shape re-joins the fact table
    * per pair. A thousands-of-segments audience system bounds the
    * pairing first — [[bitmapAudienceOverlapPruned]] is that
    * support-threshold variant. */
  val bitmapAudienceOverlap: Q = (s, dir) => {
    val partials = graft.sources.Tables.events(s, dir)
      .groupBy("event_type")
      .agg(expr("graft_bitmap_build64(user_id)").as("bm"),
        expr("graft_bitmap_distinct64(user_id)").as("nd"))
    val a = partials.selectExpr("event_type AS et1", "bm AS bm1",
      "nd AS nd1")
    val b = partials.selectExpr("event_type AS et2", "bm AS bm2",
      "nd AS nd2")
    a.join(b, col("et1") < col("et2"))
      .selectExpr("et1", "et2", "nd1", "nd2",
        "graft_bitmap64_and_count(bm1, bm2) AS n_common")
      .orderBy("et1", "et2")
  }

  val bitmapAudienceOverlapOracle: String =
    """WITH s AS (SELECT DISTINCT event_type, user_id FROM events),
       nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd
              FROM s GROUP BY 1)
       SELECT a.event_type AS et1, b.event_type AS et2,
         n1.nd AS nd1, n2.nd AS nd2,
         CAST(count(*) AS BIGINT) AS n_common
       FROM s a JOIN s b
         ON a.user_id = b.user_id AND a.event_type < b.event_type
       JOIN nd n1 ON n1.event_type = a.event_type
       JOIN nd n2 ON n2.event_type = b.event_type
       GROUP BY 1, 2, 3, 4 ORDER BY et1, et2"""

  /** Candidate-pruned pairing core shared by [[bitmapAudienceOverlapPruned]]
    * and its spec fixture: segments below the support threshold are
    * dropped BEFORE the theta self-join (sound because |A∩B| ≤
    * min(|A|,|B|) — a segment smaller than t cannot reach support t),
    * bounding the pair blow-up from C(S,2) to C(S',2) where S' counts
    * only above-threshold segments. `segments` must carry (seg, bm,
    * nd); `th` is a 1-row (t) frame so the threshold stays in-plan
    * (broadcast scalar, no driver collect). */
  private[graft] def overlapPruned(segments: DataFrame,
      th: DataFrame): DataFrame = {
    val withT = segments.crossJoin(broadcast(th))
      .filter(col("nd") >= col("t"))
    val a = withT.selectExpr("seg AS et1", "bm AS bm1", "nd AS nd1", "t")
    val b = withT.selectExpr("seg AS et2", "bm AS bm2", "nd AS nd2")
    a.join(b, col("et1") < col("et2"))
      .withColumn("n_common", expr("graft_bitmap64_and_count(bm1, bm2)"))
      .filter(col("n_common") >= col("t"))
      .selectExpr("et1", "et2", "nd1", "nd2", "n_common")
      .orderBy("et1", "et2")
  }

  /** [[bitmapAudienceOverlap]] with SUPPORT-THRESHOLD candidate
    * pruning — the shape an audience system with thousands of segments
    * needs: only pairs that can possibly reach the support threshold
    * (t = max(1, |all users| / 4), derived in-plan) are materialized
    * and ANDed. Semantics are unchanged versus filtering the full
    * pairing afterward (the cardinality bound is exact, never lossy) —
    * the oracle applies the same threshold as a plain HAVING. */
  val bitmapAudienceOverlapPruned: Q = (s, dir) => {
    val ev = graft.sources.Tables.events(s, dir)
    val segments = ev.groupBy("event_type")
      .agg(expr("graft_bitmap_build64(user_id)").as("bm"),
        expr("graft_bitmap_distinct64(user_id)").as("nd"))
      .withColumnRenamed("event_type", "seg")
    val th = ev.agg(expr("graft_bitmap_distinct64(user_id)").as("ud"))
      .selectExpr("greatest(CAST(1 AS BIGINT), ud div 4) AS t")
    overlapPruned(segments, th)
  }

  val bitmapAudienceOverlapPrunedOracle: String =
    """WITH s AS (SELECT DISTINCT event_type, user_id FROM events),
       nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd
              FROM s GROUP BY 1),
       th AS (SELECT greatest(1,
                CAST(count(DISTINCT user_id) AS BIGINT) // 4) AS t
              FROM events)
       SELECT a.event_type AS et1, b.event_type AS et2,
         n1.nd AS nd1, n2.nd AS nd2,
         CAST(count(*) AS BIGINT) AS n_common
       FROM s a JOIN s b
         ON a.user_id = b.user_id AND a.event_type < b.event_type
       JOIN nd n1 ON n1.event_type = a.event_type
       JOIN nd n2 ON n2.event_type = b.event_type
       CROSS JOIN th
       GROUP BY 1, 2, 3, 4, th.t
       HAVING CAST(count(*) AS BIGINT) >= th.t
       ORDER BY et1, et2"""

  /** Retention cohort matrix — THE product-analytics query, shaped for
    * 100 TB by the bitmap algebra: cohort(u) = first-seen day; for
    * every (cohort day, offset ≤ 7) the retained-user count is the AND
    * of the cohort's user bitmap with the offset day's activity bitmap
    * (graft_bitmap64_and_count). Two aggregation passes over the fact
    * table (first-seen per user → cohort bitmaps; user-per-day →
    * activity bitmaps, ~30 of each at a few KB) and the
    * O(days × offsets) matrix is then pure bitmap arithmetic on
    * broadcast-sized tables — the naive shape re-joins the events
    * table per (cohort, day) pair. In production neither pass recurs:
    * the daily activity bitmaps persist per ingest partition (the
    * [[bitmapPartialUnion]] pattern), the first-seen table is an
    * incrementally-maintained upsert, and each new day appends one
    * bitmap + one row of ANDs. Both halves of that production story
    * are now implemented: the incrementally-maintained first-seen
    * upsert is [[graft.operators.Merge.mergeUpsertFirstSeen]] (and
    * [[graft.operators.Merge.mergeRetentionCohorts]] re-derives this
    * matrix from it), and [[retentionCohortsSharded]] removes this
    * variant's per-day-bitmap broadcast for extreme id cardinality.
    * Retention rate
    * is exact half-up integer µ-units; offset 0 retains the whole
    * cohort by construction (a built-in sanity row the oracle checks
    * too). */
  val retentionCohorts: Q = (s, dir) => {
    val ev = graft.sources.Tables.events(s, dir)
      .selectExpr("user_id", "CAST(to_date(ts) AS DATE) AS d")
    val firstSeen = ev.groupBy("user_id").agg(min("d").as("cohort_d"))
    val cohortBm = firstSeen.groupBy("cohort_d")
      .agg(expr("graft_bitmap_build64(user_id)").as("cbm"),
        expr("graft_bitmap_distinct64(user_id)").as("cohort_n"))
    val activeBm = ev.groupBy("d")
      .agg(expr("graft_bitmap_build64(user_id)").as("abm"))
    cohortBm.join(broadcast(activeBm),
        col("d") >= col("cohort_d") &&
          datediff(col("d"), col("cohort_d")) <= 7)
      .selectExpr("cohort_d",
        "CAST(datediff(d, cohort_d) AS BIGINT) AS offset_d",
        "cohort_n",
        "graft_bitmap64_and_count(cbm, abm) AS n_active")
      .selectExpr("cohort_d", "offset_d", "cohort_n", "n_active",
        """CAST((2 * n_active * 1000000 + cohort_n) div (2 * cohort_n)
           AS DOUBLE) / 1000000.0D AS retention""")
      .orderBy("cohort_d", "offset_d")
  }

  val retentionCohortsOracle: String =
    """WITH ev AS (
         SELECT DISTINCT user_id,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d
         FROM events),
       fs AS (SELECT user_id, min(d) AS cohort_d FROM ev GROUP BY 1),
       cn AS (SELECT cohort_d, CAST(count(*) AS BIGINT) AS cohort_n
              FROM fs GROUP BY 1),
       act AS (
         SELECT f.cohort_d, e.d, CAST(count(*) AS BIGINT) AS n_active
         FROM fs f JOIN ev e USING (user_id)
         WHERE e.d >= f.cohort_d AND e.d - f.cohort_d <= 7
         GROUP BY 1, 2)
       SELECT a.cohort_d, CAST(a.d - a.cohort_d AS BIGINT) AS offset_d,
         cn.cohort_n, a.n_active,
         CAST((2 * a.n_active * 1000000 + cn.cohort_n)
           // (2 * cn.cohort_n) AS DOUBLE) / 1000000.0 AS retention
       FROM act a JOIN cn USING (cohort_d)
       ORDER BY cohort_d, offset_d"""

  /** Day-over-day churn / new / retained decomposition — retention's
    * ([[retentionCohorts]]) companion, and the ANDNOT leg of the bitmap
    * set algebra: per consecutive day pair, retained = |A ∩ B|,
    * churned = |A \ B|, new = |B \ A|, each a bitmap op over the
    * persisted per-day bitmaps (one fact aggregation builds them; no
    * rescan per pair). The three counts tile each day's actives:
    * |A| = retained + churned, |B| = retained + new — an internal
    * consistency the oracle re-derives from raw memberships.
    * [[churnDailySharded]] is the broadcast-free twin for extreme id
    * cardinality. */
  val churnDaily: Q = (s, dir) => {
    val daily = graft.sources.Tables.events(s, dir)
      .selectExpr("user_id", "CAST(to_date(ts) AS DATE) AS d")
      .groupBy("d")
      .agg(expr("graft_bitmap_build64(user_id)").as("bm"),
        expr("graft_bitmap_distinct64(user_id)").as("n_active"))
    val prev = daily.selectExpr("d AS d0", "bm AS bm0",
      "n_active AS n0")
    val cur = daily.selectExpr("d AS d1", "bm AS bm1", "n_active AS n1")
    prev.join(broadcast(cur), expr("d1 = d0 + INTERVAL 1 DAY"))
      .selectExpr("d1 AS day",
        "n0 AS n_prev", "n1 AS n_cur",
        "graft_bitmap64_and_count(bm0, bm1) AS n_retained",
        "graft_bitmap64_andnot_count(bm0, bm1) AS n_churned",
        "graft_bitmap64_andnot_count(bm1, bm0) AS n_new")
      .orderBy("day")
  }

  val churnDailyOracle: String =
    """WITH ev AS (
         SELECT DISTINCT user_id,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d
         FROM events),
       days AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1),
       pairs AS (
         SELECT p.d AS d0, c.d AS d1, p.n AS n_prev, c.n AS n_cur
         FROM days p JOIN days c ON c.d = p.d + INTERVAL 1 DAY),
       ret AS (
         SELECT pr.d1 AS day, CAST(count(*) AS BIGINT) AS n_retained
         FROM pairs pr
         JOIN ev a ON a.d = pr.d0
         JOIN ev b ON b.d = pr.d1 AND b.user_id = a.user_id
         GROUP BY 1)
       SELECT pr.d1 AS day, pr.n_prev, pr.n_cur,
         r.n_retained,
         pr.n_prev - r.n_retained AS n_churned,
         pr.n_cur - r.n_retained AS n_new
       FROM pairs pr JOIN ret r ON r.day = pr.d1
       ORDER BY day"""

  /** Number of id-range shards for the sharded bitmap variants. Any
    * value works (the algebra is shard-oblivious because shards
    * PARTITION the id space); 8 is enough to prove multi-shard
    * correctness at harness scale — production picks shards so each
    * per-(day, shard) bitmap stays a few MB. */
  private val BmShards = 8L

  /** [[retentionCohorts]] WITHOUT the per-day-bitmap broadcast — the
    * variant that survives multi-billion-user id cardinality. The
    * broadcast twin ships each whole-day bitmap to every executor
    * (~120 MB per billion ids even Roaring-compressed — a driver-limit
    * hazard); here bitmaps are built per (day, shard = pmod(user_id,
    * S)), the cohort side is EXPANDED to its ≤8 offset days
    * (`explode(sequence(...))` — 8 rows per (cohort, shard) cell, not
    * a range join), and the AND runs shard-to-shard through a plain
    * equi shuffle join on (shard, day): identical algebra, every row
    * bounded by |ids|/S bits, rows bounded by days × offsets × S.
    * Because shards partition the id space, per-shard AND counts sum
    * exactly to the unsharded count. Cells where no cohort member is
    * active are dropped (n_active = 0 cannot appear — matching the
    * oracle, whose inner user-join also drops them). */
  val retentionCohortsSharded: Q = (s, dir) => {
    val ev = graft.sources.Tables.events(s, dir)
      .selectExpr("user_id", "CAST(to_date(ts) AS DATE) AS d")
    val firstSeen = ev.groupBy("user_id").agg(min("d").as("cohort_d"))
    val cohortShard = firstSeen
      .withColumn("sh", pmod(col("user_id"), lit(BmShards)))
      .groupBy("cohort_d", "sh")
      .agg(expr("graft_bitmap_build64(user_id)").as("cbm"))
      .withColumn("d", explode(expr(
        "sequence(cohort_d, cohort_d + INTERVAL 7 DAYS)")))
      .withColumn("d", col("d").cast("date"))
    val activeShard = ev
      .withColumn("sh", pmod(col("user_id"), lit(BmShards)))
      .groupBy("d", "sh")
      .agg(expr("graft_bitmap_build64(user_id)").as("abm"))
    val cohortN = firstSeen.groupBy("cohort_d")
      .agg(count(lit(1)).as("cohort_n"))
    cohortShard.join(activeShard, Seq("sh", "d"))
      .groupBy("cohort_d", "d")
      .agg(sum(expr("graft_bitmap64_and_count(cbm, abm)")).as("n_active"))
      .filter(col("n_active") > 0)
      .join(broadcast(cohortN), "cohort_d")
      .selectExpr("cohort_d",
        "CAST(datediff(d, cohort_d) AS BIGINT) AS offset_d",
        "cohort_n", "n_active",
        """CAST((2 * n_active * 1000000 + cohort_n) div (2 * cohort_n)
           AS DOUBLE) / 1000000.0D AS retention""")
      .orderBy("cohort_d", "offset_d")
  }

  /** [[churnDaily]] on the same sharded algebra: per-(day, shard)
    * bitmaps, consecutive days paired shard-to-shard by equi join on
    * (shard, next day), retained/churned/new summed over shards —
    * exact because shards partition the id space; no bitmap is ever
    * broadcast. */
  val churnDailySharded: Q = (s, dir) => {
    val daily = graft.sources.Tables.events(s, dir)
      .selectExpr("user_id", "CAST(to_date(ts) AS DATE) AS d")
      .withColumn("sh", pmod(col("user_id"), lit(BmShards)))
      .groupBy("d", "sh")
      .agg(expr("graft_bitmap_build64(user_id)").as("bm"),
        expr("graft_bitmap_distinct64(user_id)").as("n"))
    // day-level pair frame (both days must exist — churnDaily's inner
    // pairing) with exact totals; tiny: one row per day
    val dayTotals = daily.groupBy("d").agg(sum("n").as("n_day"))
    val validPairs = dayTotals
      .selectExpr("CAST(d + INTERVAL 1 DAY AS DATE) AS day",
        "n_day AS n_prev")
      .join(dayTotals.selectExpr("d AS day", "n_day AS n_cur"), "day")
    // shard-level FULL OUTER: a shard occupied on only one of the two
    // days still contributes — all its users churned (or are all new)
    val prev = daily.selectExpr("sh",
      "CAST(d + INTERVAL 1 DAY AS DATE) AS day", "bm AS bm0", "n AS n0")
    val cur = daily.selectExpr("sh", "d AS day", "bm AS bm1", "n AS n1")
    prev.join(cur, Seq("sh", "day"), "full_outer")
      .groupBy("day")
      .agg(
        sum(coalesce(expr("graft_bitmap64_and_count(bm0, bm1)"),
          lit(0L))).as("n_retained"),
        sum(when(col("bm1").isNull, col("n0"))
          .otherwise(expr("graft_bitmap64_andnot_count(bm0, bm1)")))
          .as("n_churned"),
        sum(when(col("bm0").isNull, col("n1"))
          .otherwise(expr("graft_bitmap64_andnot_count(bm1, bm0)")))
          .as("n_new"))
      .join(broadcast(validPairs), "day")
      .selectExpr("day", "n_prev", "n_cur", "n_retained",
        "coalesce(n_churned, 0) AS n_churned",
        "coalesce(n_new, 0) AS n_new")
      .orderBy("day")
  }

  /** The reference's ENTIRE pre-ML Kubeflow DAG collapsed into one lazy
    * plan (SURVEY §3.2 — its biggest architectural win): query → dedup
    * latest-per-(user, day) → min-max scale per event type → trailing
    * 5-step sequence windows, with stage boundaries only at genuine
    * shuffles. The reference runs this as four pods passing CSVs over a
    * PVC (`KubeflowStockPricePrediction.ipynb` cells 7–13). */
  val pipelineTrainPrep: Q = (s, dir) => {
    val ev = events(s, dir)
      .withColumn("day", date_trunc("day", col("ts")))
    val wDedup = Window.partitionBy("user_id", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    val deduped = ev
      .withColumn("rn", row_number().over(wDedup))
      .filter(col("rn") === 1)
      .select("user_id", "day", "event_type", "value")
    val wScale = Window.partitionBy("event_type")
    val scaled = deduped
      .withColumn("value_scaled",
        (col("value") - min(col("value")).over(wScale)) /
        (max(col("value")).over(wScale) - min(col("value")).over(wScale)))
    val wSeq = Window.partitionBy("user_id")
      .orderBy(col("day").asc)
      .rowsBetween(-4, 0)
    scaled
      .withColumn("seq_arr", collect_list(col("value_scaled")).over(wSeq))
      .withColumn("seq_len", count(lit(1)).over(wSeq))
      .filter(col("seq_len") === 5)
      // serialized (µ-scaled bigint CSV) for the driver's pandas row-sort —
      // see seqWindowArrays
      .selectExpr("user_id", "day",
        """concat_ws(',', transform(seq_arr,
           x -> CAST(CAST(round(x * 1000000) AS BIGINT) AS STRING))) AS seq""")
      .orderBy("user_id", "day")
  }

  val pipelineTrainPrepOracle: String =
    """WITH ev AS (
         SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
           value, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
         FROM events),
       deduped AS (
         SELECT user_id, day, event_type, value FROM ev
         QUALIFY row_number() OVER (PARTITION BY user_id, day
           ORDER BY ts DESC, event_id DESC) = 1),
       scaled AS (
         SELECT user_id, day, event_type, value,
           (value - min(value) OVER w) /
             (max(value) OVER w - min(value) OVER w) AS value_scaled
         FROM deduped WINDOW w AS (PARTITION BY event_type)),
       seqs AS (
         SELECT user_id, day,
           list(value_scaled) OVER ws AS seq_arr, count(*) OVER ws AS seq_len
         FROM scaled
         WINDOW ws AS (PARTITION BY user_id ORDER BY day ASC
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
       SELECT user_id, day,
         array_to_string(list_transform(seq_arr,
           x -> CAST(CAST(round(x * 1000000) AS BIGINT) AS VARCHAR)), ',')
           AS seq
       FROM seqs WHERE seq_len = 5
       ORDER BY user_id, day"""

  /** Funnel conversion: per user, the ordered signup → click → purchase
    * progression (each stage must happen strictly after the previous
    * one's first occurrence) — one aggregation pass, no self-joins. */
  val funnelConversion: Q = (s, dir) => {
    val ev = events(s, dir)
    val stages = ev.groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts")))
          .as("t_purchase"))
    stages.agg(
      count(lit(1)).as("n_users"),
      count(col("t_signup")).as("n_signup"),
      count(when(col("t_click") > col("t_signup"), 1))
        .as("n_click_after_signup"),
      count(when(col("t_purchase") > col("t_click") &&
        col("t_click") > col("t_signup"), 1)).as("n_full_funnel"))
  }

  val funnelConversionOracle: String =
    """WITH stages AS (
         SELECT user_id,
           min(CASE WHEN event_type = 'signup'
             THEN CAST(ts AS TIMESTAMP) END) AS t_signup,
           min(CASE WHEN event_type = 'click'
             THEN CAST(ts AS TIMESTAMP) END) AS t_click,
           min(CASE WHEN event_type = 'purchase'
             THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
         FROM events GROUP BY user_id)
       SELECT count(*) AS n_users,
         count(t_signup) AS n_signup,
         count(*) FILTER (WHERE t_click > t_signup)
           AS n_click_after_signup,
         count(*) FILTER (WHERE t_purchase > t_click
           AND t_click > t_signup) AS n_full_funnel
       FROM stages"""

  /** Percentile winsorization: clip each value into its event_type's
    * [p05, p95] band — the outlier-robust cousin of scale_minmax (the
    * reference's client scalers are exactly this family,
    * `KubeflowStockPricePrediction.ipynb:287-290`). The per-group
    * percentile table is tiny and broadcast back; the clip itself is a
    * map-side projection, so the only shuffle is the stats aggregate. */
  val scaleWinsorize: Q = (s, dir) => {
    val ev = events(s, dir)
    val stats = ev.groupBy("event_type").agg(
      expr("percentile(value, 0.05)").as("p05"),
      expr("percentile(value, 0.95)").as("p95"))
    ev.join(broadcast(stats), "event_type")
      .selectExpr("event_id", "event_type", "value",
        "round(least(greatest(value, p05), p95), 6) AS value_winsorized")
      .orderBy("event_id")
  }

  val scaleWinsorizeOracle: String =
    """WITH st AS (SELECT event_type,
         quantile_cont(value, 0.05) AS p05,
         quantile_cont(value, 0.95) AS p95
       FROM events GROUP BY 1)
       SELECT event_id, e.event_type, value,
         round(least(greatest(value, p05), p95), 6) AS value_winsorized
       FROM events e JOIN st USING (event_type) ORDER BY event_id"""

  /** Z-score anomaly flags per event_type. The moments are computed over
    * exact integer cents (sum and sum-of-squares as BIGINTs), so mean and
    * variance are bit-identical cross-engine and partition-order
    * independent — no Welford-vs-naive numeric drift; sqrt is IEEE
    * correctly-rounded, so even the unrounded z agrees. One aggregation
    * shuffle; the 5-row stats table broadcasts back. */
  val anomalyZscore: Q = (s, dir) => {
    val ev = events(s, dir)
    val stats = ev.filter(col("value").isNotNull)
      .selectExpr("event_type",
        "CAST(round(value * 100) AS BIGINT) AS c")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("s"),
        sum(expr("c * c")).as("ss"))
      .selectExpr("event_type", "n",
        "CAST(s AS DOUBLE) / (100.0 * n) AS mean",
        // singleton groups have no sample variance — NULL, not an ANSI
        // divide-by-zero at (n - 1)
        "CASE WHEN n < 2 THEN CAST(NULL AS DOUBLE)" +
          " ELSE (CAST(ss AS DOUBLE) / 10000.0" +
          " - n * pow(CAST(s AS DOUBLE) / (100.0 * n), 2)) / (n - 1)" +
          " END AS variance")
    // variance NULL (singleton group) or 0 (constant group) → z NULL and
    // no anomaly, matching the oracle's semantics instead of throwing
    // DIVIDE_BY_ZERO under ANSI
    ev.join(broadcast(stats), "event_type")
      .selectExpr("event_id", "event_type", "value",
        "CASE WHEN variance > 0" +
          " THEN round((value - mean) / sqrt(variance), 6)" +
          " ELSE CAST(NULL AS DOUBLE) END AS z",
        "CASE WHEN variance > 0" +
          " AND abs((value - mean) / sqrt(variance)) > 2.5" +
          " THEN true ELSE false END AS is_anomaly")
      .orderBy("event_id")
  }

  /** Median-absolute-deviation anomaly flags per event_type — the
    * robust twin of [[anomalyZscore]] (Leys et al. 2013, "Detecting
    * outliers: Do not use standard deviation around the mean, use
    * absolute deviation around the median"): median and MAD resist the
    * very outliers they flag, where mean/stddev are dragged by them.
    * Flag: |x − med| > 3·1.4826·MAD (1.4826 = consistency constant for
    * normal data). Both medians are computed over exact integer CENTS:
    * interpolated midpoints of integers ≤ 10⁷ are exactly-representable
    * doubles (halves), so med and MAD are bit-identical cross-engine
    * with no rounding canonicalization anywhere — the flag compares
    * exact-grain doubles.
    *
    * Scale shape: two grouped percentile aggregations (one for the
    * median, one for the MAD over deviations) + a broadcast of the
    * 5-row stats between them; the flag pass is map-side. Exact
    * percentiles sort within groups — at 100 TB swap in the mergeable
    * histogram sketch (quantile_hist_sketch) at the same two points. */
  val anomalyMad: Q = (s, dir) => {
    val ev = events(s, dir)
    val c = ev.filter(col("value").isNotNull)
      .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) AS c")
    val med = c.groupBy("event_type")
      .agg(expr("percentile(c, 0.5)").as("med_c"))
    val mad = c.join(broadcast(med), "event_type")
      .selectExpr("event_type", "abs(c - med_c) AS dev")
      .groupBy("event_type")
      .agg(expr("percentile(dev, 0.5)").as("mad_c"))
    ev.join(broadcast(med), "event_type")
      .join(broadcast(mad), "event_type")
      .selectExpr("event_id", "event_type", "value",
        "med_c / 100.0 AS med", "mad_c / 100.0 AS mad",
        """CASE WHEN mad_c > 0
             AND abs(CAST(round(value * 100) AS BIGINT) - med_c)
                 > 4.4478 * mad_c
           THEN true ELSE false END AS is_anomaly""")
      .orderBy("event_id")
  }

  val anomalyMadOracle: String =
    """WITH c AS (
         SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
         FROM events WHERE value IS NOT NULL),
       med AS (
         SELECT event_type, quantile_cont(c, 0.5) AS med_c
         FROM c GROUP BY 1),
       mad AS (
         SELECT c.event_type, quantile_cont(abs(c.c - m.med_c), 0.5)
           AS mad_c
         FROM c JOIN med m USING (event_type) GROUP BY c.event_type)
       SELECT event_id, e.event_type, value,
         med_c / 100.0 AS med, mad_c / 100.0 AS mad,
         CASE WHEN mad_c > 0
           AND abs(CAST(round(value * 100) AS BIGINT) - med_c)
               > 4.4478 * mad_c
         THEN true ELSE false END AS is_anomaly
       FROM events e
       JOIN med USING (event_type)
       JOIN mad USING (event_type)
       ORDER BY event_id"""

  val anomalyZscoreOracle: String =
    """WITH c AS (
         SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
         FROM events WHERE value IS NOT NULL),
       st AS (
         SELECT event_type, count(*) AS n,
           CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS ss
         FROM c GROUP BY 1),
       m AS (
         SELECT event_type,
           CAST(s AS DOUBLE) / (100.0 * n) AS mean,
           CASE WHEN n < 2 THEN CAST(NULL AS DOUBLE)
             ELSE (CAST(ss AS DOUBLE) / 10000.0
               - n * pow(CAST(s AS DOUBLE) / (100.0 * n), 2)) / (n - 1)
             END AS variance
         FROM st)
       SELECT event_id, e.event_type, value,
         CASE WHEN variance > 0
           THEN round((value - mean) / sqrt(variance), 6)
           ELSE CAST(NULL AS DOUBLE) END AS z,
         CASE WHEN variance > 0
           AND abs((value - mean) / sqrt(variance)) > 2.5
           THEN true ELSE false END AS is_anomaly
       FROM events e JOIN m USING (event_type)
       ORDER BY event_id"""

  val ops: Seq[Op] = Seq(
    Op("anomaly_zscore", anomalyZscore, anomalyZscoreOracle),
    Op("anomaly_mad", anomalyMad, anomalyMadOracle),
    Op("scale_winsorize", scaleWinsorize, scaleWinsorizeOracle),
    Op("funnel_conversion", funnelConversion, funnelConversionOracle),
    Op("pipeline_train_prep", pipelineTrainPrep, pipelineTrainPrepOracle),
    Op("approx_distinct_kmv", kmvDistinct, kmvDistinctOracle),
    Op("bitmap_exact_distinct", bitmapExactDistinct, bitmapExactDistinctOracle),
    Op("bitmap_partial_union", bitmapPartialUnion, bitmapPartialUnionOracle),
    Op("bitmap_exact_distinct64", bitmapExactDistinct64,
      bitmapExactDistinct64Oracle),
    Op("bitmap_partial_union64", bitmapPartialUnion64,
      bitmapPartialUnion64Oracle),
    Op("bitmap_audience_overlap", bitmapAudienceOverlap,
      bitmapAudienceOverlapOracle),
    Op("bitmap_audience_overlap_pruned", bitmapAudienceOverlapPruned,
      bitmapAudienceOverlapPrunedOracle),
    Op("retention_cohorts", retentionCohorts, retentionCohortsOracle),
    Op("retention_cohorts_sharded", retentionCohortsSharded,
      retentionCohortsOracle),
    Op("churn_daily", churnDaily, churnDailyOracle),
    Op("churn_daily_sharded", churnDailySharded, churnDailyOracle),
    Op("groupby_agg", groupbyAgg,
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_base_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
           AS DOUBLE) AS sum_disc_price,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           / count(l_quantity) AS avg_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           / count(l_extendedprice) AS avg_price,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2001-09-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    Op("group_count_distinct", groupCountDistinct,
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
         count(*) AS n_orders
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    Op("rollup_agg", rollupAgg,
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
    Op("rollup_grouping_id", rollupGroupingId, rollupGroupingIdOracle),
    Op("cube_agg", cubeAgg,
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_price
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus ASC NULLS FIRST,
                  o_orderpriority ASC NULLS FIRST"""),
    Op("distinct_rows", distinctRows,
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type"""),
    Op("dedup_latest_by_key", dedupLatestByKey,
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                event_type, value
         FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id
           ORDER BY ts DESC, event_id DESC) = 1
         ORDER BY user_id"""),
    Op("agg_minmax_global", aggMinmaxGlobal,
      """SELECT min(l_extendedprice) AS min_price,
         max(l_extendedprice) AS max_price,
         min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
         count(*) AS n FROM lineitem"""),
    Op("quantiles", quantiles,
      """SELECT event_type,
         round(quantile_cont(value, 0.25), 6) AS q25,
         round(quantile_cont(value, 0.5), 6) AS median,
         round(quantile_cont(value, 0.75), 6) AS q75
         FROM events GROUP BY event_type ORDER BY event_type"""),
    Op("quantile_hist_sketch", quantileHistSketch, quantileHistSketchOracle),
    Op("quantile_hist_auto", quantileHistAuto, quantileHistAutoOracle),
    Op("corr_matrix", corrMatrix,
      """SELECT round(corr(l_quantity, l_extendedprice), 6)
           AS corr_qty_price,
         round(corr(l_quantity, l_discount), 6) AS corr_qty_disc,
         round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc
         FROM lineitem"""),
    Op.unchecked("approx_count_distinct", approxCountDistinct),
    Op("window_rank_lag_lead", windowRankLagLead,
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         row_number() OVER w AS rn,
         rank() OVER wv AS value_rank,
         dense_rank() OVER wv AS value_dense_rank,
         lag(value, 1) OVER w AS prev_value,
         lead(value, 1) OVER w AS next_value
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
           wv AS (PARTITION BY user_id ORDER BY value DESC, event_id ASC)
         ORDER BY event_id"""),
    Op("window_rolling_sum", windowRollingSum,
      """SELECT event_id, user_id, value,
         CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
           AS rolling_sum,
         count(*) OVER w AS rolling_n
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         ORDER BY event_id"""),
    Op("window_rolling_median", windowRollingMedian, windowRollingMedianOracle),
    Op("window_ewma", windowEwma, windowEwmaOracle),
    Op("agg_mode", aggMode, aggModeOracle),
    Op("seq_window_arrays", seqWindowArrays,
      """SELECT event_id, user_id,
           array_to_string(list_transform(seq_arr,
             x -> CAST(CAST(round(x * 1000000) AS BIGINT) AS VARCHAR)), ',')
             AS seq,
           seq_len FROM (
           SELECT event_id, user_id,
             list(value) OVER w AS seq_arr, count(*) OVER w AS seq_len
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
         WHERE seq_len = 10 ORDER BY event_id"""),
    Op("scale_minmax", scaleMinmax,
      """SELECT event_id, event_type, value,
         (value - min(value) OVER w) /
           (max(value) OVER w - min(value) OVER w) AS value_scaled
         FROM events WINDOW w AS (PARTITION BY event_type)
         ORDER BY event_id"""),
    Op("scale_robust", scaleRobust,
      """WITH s AS (
           SELECT event_type, quantile_cont(value, 0.5) AS med,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3
           FROM events GROUP BY event_type)
         SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.med) / (s.q3 - s.q1), 6) AS value_scaled
         FROM events e JOIN s USING (event_type)
         ORDER BY event_id"""),
    Op("count_rows", countRows,
      """SELECT tbl, n FROM (
           SELECT 'lineitem' AS tbl, count(*) AS n FROM lineitem
           UNION ALL SELECT 'orders', count(*) FROM orders
           UNION ALL SELECT 'customer', count(*) FROM customer)
         ORDER BY tbl"""))
}
