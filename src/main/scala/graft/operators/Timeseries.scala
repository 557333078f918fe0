package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Op, Q}
import graft.sources.Tables.{dsum, events}

/** Time-series operators over the event stream — the engine-side versions
  * of the reference's date-keyed dataflow (SURVEY.md §1.1: every table is a
  * date-keyed time series; the client pandas code fills/aligns by date).
  * The reference's stock table is missing weekend rows and the notebook
  * papers over it with an outer join + dropna (`localTrinoTest.ipynb:1193`)
  * — a real engine offers the spine/gap-fill and history-tracking
  * primitives directly.
  *
  * Scale posture: every operator here is one shuffle (a groupBy or a
  * per-key window); the date spine is generated from one global min/max
  * aggregate (2 rows broadcast), never materialized driver-side.
  */
object Timeseries {

  /** Date-spine gap fill: daily aggregate of a sparse event subset,
    * LEFT-joined onto a generated continuous day spine so missing days
    * surface as explicit zero rows (the weekend-rows problem of the
    * reference's stock table, solved engine-side). The spine bounds come
    * from the FULL table so the fill range is stable as the subset
    * thins. */
  val gapfillDateSpine: Q = (s, dir) => {
    val ev = events(s, dir)
    val sparse = ev
      .filter("event_type = 'purchase' AND value > 250")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    val spine = ev
      .agg(to_date(min("ts")).as("d0"), to_date(max("ts")).as("d1"))
      .selectExpr("explode(sequence(d0, d1, interval 1 day)) AS day")
    spine.join(sparse, Seq("day"), "left_outer")
      .selectExpr("day",
        "coalesce(n_events, CAST(0 AS BIGINT)) AS n_events",
        "coalesce(sum_value, CAST(0 AS DOUBLE)) AS sum_value")
      .orderBy("day")
  }

  val gapfillDateSpineOracle: String =
    """WITH b AS (SELECT CAST(min(ts) AS DATE) AS d0,
                         CAST(max(ts) AS DATE) AS d1 FROM events),
       sp AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                AS DATE) AS day FROM b),
       ag AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_value
              FROM events WHERE event_type = 'purchase' AND value > 250
              GROUP BY 1)
       SELECT sp.day, coalesce(ag.n_events, 0) AS n_events,
         coalesce(ag.sum_value, 0.0) AS sum_value
       FROM sp LEFT JOIN ag USING (day) ORDER BY day"""

  /** Linear-interpolation gap fill: the spine's missing days get the
    * straight line between the surrounding known points (leading gaps
    * take the next known value, trailing the previous — the pandas
    * `interpolate(limit_direction='both')` contract, served
    * engine-side). Two window passes over the date-ordered spine find
    * the bracketing known points; the blend is
    * prev + (next − prev) · Δdays/span. The windows are global but run
    * over the SPINE (one row per day — O(days), not O(events)), so the
    * single-partition sort is bounded by calendar length; per-series
    * data would partition by key exactly like fill-forward. */
  val gapfillLinearInterp: Q = (s, dir) => {
    val ev = events(s, dir)
    val known = ev
      .filter("event_type = 'purchase' AND value > 250")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("sum_value"))
    val spine = ev
      .agg(to_date(min("ts")).as("d0"), to_date(max("ts")).as("d1"))
      .selectExpr("explode(sequence(d0, d1, interval 1 day)) AS day")
    val wPast = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wFut = Window.orderBy("day")
      .rowsBetween(0, Window.unboundedFollowing)
    spine.join(known, Seq("day"), "left_outer")
      .withColumn("pv", last("sum_value", ignoreNulls = true).over(wPast))
      .withColumn("pd", last(when(col("sum_value").isNotNull, col("day")),
        ignoreNulls = true).over(wPast))
      .withColumn("nv", first("sum_value", ignoreNulls = true).over(wFut))
      .withColumn("nd", first(when(col("sum_value").isNotNull, col("day")),
        ignoreNulls = true).over(wFut))
      .selectExpr("day", "sum_value IS NOT NULL AS observed",
        """round(CASE
             WHEN sum_value IS NOT NULL THEN sum_value
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             ELSE pv + (nv - pv) * CAST(datediff(day, pd) AS DOUBLE)
                                   / datediff(nd, pd)
           END, 6) AS value_filled""")
      .orderBy("day")
  }

  val gapfillLinearInterpOracle: String =
    """WITH b AS (SELECT CAST(min(ts) AS DATE) AS d0,
                         CAST(max(ts) AS DATE) AS d1 FROM events),
       sp AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                AS DATE) AS day FROM b),
       ag AS (SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_value
              FROM events WHERE event_type = 'purchase' AND value > 250
              GROUP BY 1),
       j AS (SELECT sp.day, ag.sum_value
             FROM sp LEFT JOIN ag USING (day)),
       w AS (SELECT day, sum_value,
               last_value(sum_value IGNORE NULLS) OVER wp AS pv,
               last_value(CASE WHEN sum_value IS NOT NULL THEN day END
                 IGNORE NULLS) OVER wp AS pd,
               first_value(sum_value IGNORE NULLS) OVER wf AS nv,
               first_value(CASE WHEN sum_value IS NOT NULL THEN day END
                 IGNORE NULLS) OVER wf AS nd
             FROM j
             WINDOW wp AS (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       SELECT day, sum_value IS NOT NULL AS observed,
         round(CASE
           WHEN sum_value IS NOT NULL THEN sum_value
           WHEN pv IS NULL THEN nv
           WHEN nv IS NULL THEN pv
           ELSE pv + (nv - pv)
             * CAST(date_diff('day', pd, day) AS DOUBLE)
             / date_diff('day', pd, nd)
         END, 6) AS value_filled
       FROM w ORDER BY day"""

  /** SCD2 history build: change-detect each user's event_type sequence
    * (drop rows equal to the previous state), then stamp every surviving
    * version row with [valid_from, valid_to) via lead() — NULL valid_to
    * marks the current version. This is the slowly-changing-dimension
    * snapshot the reference's later-message-wins dedup is a degenerate
    * (keep-only-last) case of. One shuffle on user_id; both window passes
    * reuse the same (user_id, ts, event_id) sort. */
  val scd2History: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .select("user_id", "event_id", "ts", "event_type")
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .withColumn("valid_to", lead("ts", 1).over(w))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "valid_from", "event_id")
  }

  val scd2HistoryOracle: String =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                    event_type FROM events),
       c AS (SELECT *, lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
             FROM e),
       k AS (SELECT user_id, event_id, ts, event_type FROM c
             WHERE prev_type IS NULL OR prev_type <> event_type)
       SELECT user_id, event_id, event_type, ts AS valid_from,
         lead(ts) OVER w AS valid_to,
         lead(ts) OVER w IS NULL AS is_current
       FROM k WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ORDER BY user_id, valid_from, event_id"""

  /** Point-in-time (time-travel) snapshot over the SCD2 history: each
    * user's state AS OF a fixed instant T — the query every
    * slowly-changing-dimension consumer runs ("what did the dimension
    * look like when the fact happened"). Declaratively it is the SCD2
    * derivation + one interval-containment filter; at scale the filter
    * prunes to ≤1 row per key before any downstream join, and because
    * validity intervals partition each key's timeline the result is
    * exactly one row per user active at T. */
  val scd2PointInTime: Q = (s, dir) => {
    val T = "TIMESTAMP_NTZ '2024-01-15 12:00:00'"
    scd2History(s, dir)
      .filter(expr(s"valid_from <= $T") &&
        (col("valid_to").isNull || expr(s"valid_to > $T")))
      .select(col("user_id"), col("event_type").as("state_at_t"),
        col("valid_from"), col("is_current"))
      .orderBy("user_id")
  }

  val scd2PointInTimeOracle: String =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                    event_type FROM events),
       c AS (SELECT *, lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
             FROM e),
       k AS (SELECT user_id, event_id, ts, event_type FROM c
             WHERE prev_type IS NULL OR prev_type <> event_type),
       h AS (SELECT user_id, event_type, ts AS valid_from,
               lead(ts) OVER w AS valid_to,
               lead(ts) OVER w IS NULL AS is_current
             FROM k WINDOW w AS (PARTITION BY user_id
               ORDER BY ts, event_id))
       SELECT user_id, event_type AS state_at_t, valid_from, is_current
       FROM h
       WHERE valid_from <= TIMESTAMP '2024-01-15 12:00:00'
         AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 12:00:00')
       ORDER BY user_id"""

  /** Feature-store point-in-time join: every fact row (purchase) is
    * enriched with the dimension version (the user's SCD2 state) valid
    * AT ITS OWN timestamp — the temporal-correctness join that keeps
    * training features free of future leakage. NOT a range join: the
    * dim's version rows and the facts are tagged, unioned, and swept by
    * ONE per-user window (state = last version at-or-before each fact),
    * so the plan is a single hash exchange + sort per key regardless of
    * how many versions a key has — the same O(n log n) shape as the
    * as-of join, which a |facts|×|versions| interval join would not
    * survive at 100 TB. Version boundaries here are the user's
    * ACTIVITY-state changes (non-purchase event types), looked up by
    * the purchase facts; in production the dim table is any SCD2
    * source. */
  val joinPointInTime: Q = (s, dir) => {
    val ev = events(s, dir)
    val w0 = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // dim-version rows: SCD2 change rows over the user's ACTIVITY stream
    // (non-purchase events) — a dimension distinct from the fact stream,
    // so the looked-up state is genuinely historical
    val versions = ev
      .filter(col("event_type") =!= "purchase")
      .select("user_id", "event_id", "ts", "event_type")
      .withColumn("prev_type", lag("event_type", 1).over(w0))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .select(col("user_id"), col("ts"),
        col("event_type").as("dim_state"), col("event_id"),
        lit(0).as("side"))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        lit(null).cast("string").as("dim_state"), col("event_id"),
        lit(1).as("side"))
    // Tie-break at equal ts is event_id-based (facts and versions share
    // the unique event_id space), so a fact admits exactly the versions
    // with (v.ts < f.ts) OR (v.ts = f.ts AND v.event_id < f.event_id) —
    // the oracle's LATERAL predicate. Ordering side before event_id
    // would instead let a fact see ANY same-ts version row.
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc, col("side").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    facts.unionByName(versions)
      .withColumn("state_at_ts",
        last("dim_state", ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("state_at_ts"))
      .orderBy("event_id")
  }

  val joinPointInTimeOracle: String =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                    event_type FROM events),
       a AS (SELECT * FROM e WHERE event_type <> 'purchase'),
       c AS (SELECT *, lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
             FROM a),
       v AS (SELECT user_id, event_id, ts, event_type FROM c
             WHERE prev_type IS NULL OR prev_type <> event_type),
       f AS (SELECT user_id, event_id, ts FROM e
             WHERE event_type = 'purchase')
       SELECT f.event_id, f.user_id, f.ts, n.state_at_ts
       FROM f LEFT JOIN LATERAL (
         SELECT v.event_type AS state_at_ts
         FROM v
         WHERE v.user_id = f.user_id
           AND (v.ts < f.ts OR (v.ts = f.ts AND v.event_id <= f.event_id))
         ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) n ON true
       ORDER BY f.event_id"""

  /** Multi-grain time rollup: the same measure aggregated at day, week
    * (ISO Monday start), and month grain in one result — the cube a
    * time-series dashboard reads. Each grain is an independent partial+
    * final hash aggregation over the shared scan (Spark reuses the
    * exchange), so cost stays one scan + three small shuffles. */
  val timeRollupMulti: Q = (s, dir) => {
    val ev = events(s, dir)
    def roll(grain: String) = ev
      .groupBy(to_date(date_trunc(grain, col("ts"))).as("period_start"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(lit(grain).as("grain"), col("period_start"),
        col("n_events"), col("sum_value"))
    roll("day").unionByName(roll("week")).unionByName(roll("month"))
      .orderBy("grain", "period_start")
  }

  val timeRollupMultiOracle: String =
    """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events)
       SELECT * FROM (
         SELECT 'day' AS grain,
           CAST(date_trunc('day', ts) AS DATE) AS period_start,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM e GROUP BY 2
         UNION ALL
         SELECT 'week',
           CAST(date_trunc('week', ts) AS DATE), count(*),
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         FROM e GROUP BY 2
         UNION ALL
         SELECT 'month',
           CAST(date_trunc('month', ts) AS DATE), count(*),
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         FROM e GROUP BY 2)
       ORDER BY grain, period_start"""

  val ops: Seq[Op] = Seq(
    Op("gapfill_date_spine", gapfillDateSpine, gapfillDateSpineOracle),
    Op("scd2_history", scd2History, scd2HistoryOracle),
    Op("scd2_point_in_time", scd2PointInTime, scd2PointInTimeOracle),
    Op("join_point_in_time", joinPointInTime, joinPointInTimeOracle),
    Op("gapfill_linear_interp", gapfillLinearInterp, gapfillLinearInterpOracle),
    Op("time_rollup_multi", timeRollupMulti, timeRollupMultiOracle))
}
