package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{Op, Q}
import graft.sources.{Memo, Tables}

/** Structured-Streaming binding of the reference's stream semantics
  * (SURVEY.md §2.9): the Kafka topics are append-only tables whose
  * duplicates are collapsed at query time; the offline harness has no
  * broker, so streams replay the events parquet through a file source —
  * swapping in `format("kafka")` + `startingOffsetsByTimestamp` (the
  * `kafka.properties:7` pushdown analog) is a one-line production change.
  *
  * Each streaming op runs synchronously (Trigger.AvailableNow + memory
  * sink) and returns the materialized table, so the driver's Verify
  * harness treats it like any batch query. Watermarks bound state at
  * scale; the outputs chosen here (key sets, complete-mode window aggs)
  * are deterministic regardless of file/partition arrival order.
  */
object Streams {

  /** Raw parquet schema for the stream source when the harness file
    * carries the legacy nanos-as-int64 `ts` (file streams REQUIRE a
    * user schema — see Tables.events for the two encodings). */
  private[graft] val rawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The file-stream source requires a DIRECTORY (it's a replay of an
    * arrival log); the harness ships a single parquet file, so stage a
    * symlink dir in tmp once per sf. In production this is the Kafka
    * topic / landing directory. */
  private def stagedDir(dir: String): String =
    // content fingerprint, not dir.hashCode: two sf dirs can never
    // alias onto one staged symlink (round-6 ADVICE class)
    Memo.publish("graft_stream_" + Tables.fingerprint(dir, "events")) { d =>
      java.nio.file.Files.createSymbolicLink(
        d.toPath.resolve("events.parquet"),
        java.nio.file.Paths.get(dir, "events.parquet").toAbsolutePath): Unit
    }.getPath

  /** File stream over a directory of event parquet files. The declared
    * schema must match the files' physical `ts` encoding (legacy int64
    * nanos vs native micros — Tables.events), so peek at one footer via
    * a batch read of the SAME path and branch; both paths emit the
    * identical TIMESTAMP (with local tz) column — watermarks require it,
    * and under the pinned-UTC session casting window bounds back to NTZ
    * on output is value-preserving. Specs that stage their own chunked
    * copies reuse this (Spark rewrites the staged files in the source's
    * current encoding, so the peek must be per-path, not per-harness). */
  private[graft] def rawFileStream(s: SparkSession, path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val isLong = s.read.parquet(path).schema("ts").dataType == LongType
    val reader = options.foldLeft(s.readStream) {
      case (r, (k, v)) => r.option(k, v)
    }
    if (isLong)
      reader.schema(rawSchema).parquet(path)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else {
      val sch = StructType(rawSchema.map(f =>
        if (f.name == "ts") f.copy(dataType = TimestampNTZType) else f))
      reader.schema(sch).parquet(path)
        .withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  private[streaming] def eventStream(s: SparkSession, dir: String): DataFrame =
    rawFileStream(s, stagedDir(dir))

  /** State-store partition count for the streaming queries. A stateful
    * operator creates one state store per shuffle partition at the FIRST
    * micro-batch (fixed for the checkpoint's lifetime), and every batch
    * pays a per-store commit — so this is sized to the stream's key
    * volume, not the batch-analytics shuffle default (32 here): the
    * harness streams carry ~1e5 keys, where 8 stores cut per-batch commit
    * overhead ~4× with zero skew risk. On a real cluster this scales to
    * O(cores) like any shuffle, but it is a deliberate, per-stream knob —
    * repartitioning a checkpointed stream later requires a state rebuild. */
  private val streamStatePartitions = "8"

  /** Isolated session for one streaming run: same SparkContext, shared
    * catalog/cache, same extensions (both ride the SparkConf), but a FRESH
    * SQL conf — so pinning spark.sql.shuffle.partitions here is invisible
    * to any concurrent batch query or other stream on the parent session
    * (a session-global set/restore would leak the temporary value to
    * whatever else runs in the window, and two overlapping streams could
    * restore each other's value). */
  /** Scratch root for the replay twins' checkpoints. These streams
    * are DETERMINISTIC FILE REPLAYS — their checkpoints are
    * re-derivable scratch state, not the durable production
    * checkpoint contract — yet every micro-batch pays per-store
    * HDFSBackedStateStore delta-file fsyncs into the checkpoint dir.
    * On this host /tmp is ext4 while /dev/shm is tmpfs: those fsyncs
    * are the dominant, noise-amplified cost of the 4-micro-batch
    * stream-stream joins (r16 reps swung 8.8–39 s on an identical
    * plan). Scratch therefore lands on tmpfs when one is writable,
    * with the plain tmpdir fallback. Production streams keep
    * checkpoints on durable storage exactly as before — queries that
    * pass an explicit `checkpointLocation` (the exactly-once lake
    * sink, the restart tests) are untouched by this default.
    *
    * Lifecycle: the pid-scoped dir is removed by a JVM shutdown hook,
    * and init sweeps siblings left by DEAD processes (a kill -9
    * skips hooks) — without both, long bench loops accumulate
    * delta/fsync files in RAM-backed tmpfs until it exhausts. */
  private[streaming] lazy val scratchCheckpointRoot: String = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) shm.getPath
      else System.getProperty("java.io.tmpdir")
    // reap scratch roots whose owning process is gone
    Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft_ckpt_"))
      .foreach { d =>
        val alive = d.getName.stripPrefix("graft_ckpt_").toLongOption
          .exists(pid => ProcessHandle.of(pid).isPresent)
        if (!alive) Memo.rmTree(d)
      }
    val d = new java.io.File(base,
      s"graft_ckpt_${ProcessHandle.current().pid()}")
    d.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => Memo.rmTree(d)))
    d.getPath
  }

  private val streamRunSeq = new java.util.concurrent.atomic.AtomicLong()

  private[streaming] def streamSession(s: SparkSession): SparkSession = {
    val ns = s.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", streamStatePartitions)
    // UNIQUE base per run: with a shared base, a NAMED query re-run
    // in a later session would silently RESUME the earlier run's
    // checkpoint (base/<queryName>) instead of starting fresh —
    // exactly what the replay-equivalence specs re-run
    ns.conf.set("spark.sql.streaming.checkpointLocation",
      s"$scratchCheckpointRoot/run_${streamRunSeq.incrementAndGet()}")
    ns
  }

  /** Run a streaming DataFrame to completion into a memory sink and
    * return the materialized result (from the stream's own session).
    *
    * Complete mode retains every window and ignores watermarks for
    * state eviction, so a `withWatermark` on a complete-mode stream
    * would misstate the state bound while doing nothing — this funnel
    * REJECTS the combination (StreamsSpec pins both directions), which
    * keeps every registered stream's declared retention honest. */
  private[streaming] def runToTable(df: DataFrame, name: String,
      mode: String): DataFrame = {
    if (mode == "complete") {
      val wm = df.queryExecution.analyzed.collectFirst {
        case e: org.apache.spark.sql.catalyst.plans.logical
            .EventTimeWatermark => e
      }
      require(wm.isEmpty,
        s"$name: watermark declared under complete output mode — it " +
          "evicts nothing there; drop it or switch to append/update")
    }
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    df.sparkSession.table(name)
  }

  /** Streaming dedup: first-seen-wins dropDuplicates per key with a
    * watermark bounding state (the streaming binding of DISTINCT —
    * SURVEY.md §2.4; the batch binding is Aggregates.distinctRows).
    * Output is the key set, which is arrival-order independent. */
  val streamDedupKeys: Q = (s, dir) => {
    val ss = streamSession(s)
    val deduped = eventStream(ss, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("user_id")
      .select("user_id")
    runToTable(deduped, "stream_dedup_keys", "append")
      .orderBy("user_id")
  }

  val streamDedupKeysOracle: String =
    "SELECT DISTINCT user_id FROM events ORDER BY user_id"

  /** Tumbling 1-day event-time windows (complete mode → every window
    * emitted; decimal sums for cross-engine exactness). */
  val streamTumblingCounts: Q = (s, dir) => {
    val ss = streamSession(s)
    tumblingCore(ss, eventStream(ss, dir), "stream_tumbling_counts")
  }

  /** Core of the tumbling aggregation over any event stream — also driven
    * by the replay-determinism spec with a 3-file maxFilesPerTrigger=1
    * source (same result no matter how the files arrive in micro-batches;
    * decimal partial sums keep the total partition-order independent).
    *
    * No watermark on purpose: complete mode retains EVERY window (state
    * is O(windows × types) for the query's lifetime) and ignores a
    * watermark for eviction, so declaring one would misstate the state
    * bound — StreamsSpec pins this invariant for all complete-mode
    * streams. An append/update deployment bounds state by adding
    * `withWatermark` and accepting that open windows emit only after
    * the watermark passes. */
  private[graft] def tumblingCore(s: SparkSession,
      stream: DataFrame, name: String): DataFrame = {
    val agg = stream
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_value"))
    runToTable(agg, name, "complete")
      .selectExpr("CAST(window.start AS TIMESTAMP_NTZ) AS day_start",
        "event_type", "n", "sum_value")
      .orderBy("day_start", "event_type")
  }

  val streamTumblingCountsOracle: String =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
       event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY day_start, event_type"""

  /** Sliding 2-day windows advancing 1 day — each event lands in two
    * windows. */
  val streamSlidingCounts: Q = (s, dir) => {
    val ss = streamSession(s)
    // complete mode — no watermark (no-op for eviction there; see
    // tumblingCore doc)
    val agg = eventStream(ss, dir)
      .groupBy(window(col("ts"), "2 days", "1 day"))
      .agg(count(lit(1)).as("n"))
    runToTable(agg, "stream_sliding_counts", "complete")
      .selectExpr("CAST(window.start AS TIMESTAMP_NTZ) AS win_start", "n")
      .orderBy("win_start")
  }

  /** Stream-static enrichment join: the live event stream joined to a
    * BATCH dimension table (customer) inside the streaming query — the
    * canonical "enrich the stream with reference data" pattern
    * (Structured Streaming re-plans the static side per micro-batch, so
    * a slowly-refreshed dim is picked up without restarting). The dim
    * is broadcast-sized, so each micro-batch pays a map-side hash join,
    * no stream-side shuffle; output is a complete-mode count per market
    * segment — arrival-order independent. */
  val streamStaticJoin: Q = (s, dir) => {
    val ss = streamSession(s)
    val dim = Tables.t(ss, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventStream(ss, dir)
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_value"))
    runToTable(agg, "stream_static_join", "complete")
      .orderBy("c_mktsegment")
  }

  val streamStaticJoinOracle: String =
    """SELECT c_mktsegment, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events e JOIN customer c ON e.user_id = c.c_custkey
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** Streaming windowed top-k (trending items): per tumbling day, the 3
    * most frequent event types. The stream maintains (window, type)
    * counts — O(windows × types) state, and because this runs in
    * COMPLETE output mode Spark retains ALL windows (no watermark
    * eviction — a watermark would be a no-op here, so none is set; an
    * append/update deployment would add one to bound state). The
    * rank-k cut runs on the materialized snapshot because streaming
    * aggregations can't nest window functions (same split a production
    * dashboard uses: incremental counts in the stream, top-k at read).
    * Complete-mode counts are arrival-order independent, so the result
    * is deterministic under any micro-batch replay. */
  val streamWindowedTopk: Q = (s, dir) => {
    val ss = streamSession(s)
    val agg = eventStream(ss, dir)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val snap = runToTable(agg, "stream_windowed_topk", "complete")
      .selectExpr("CAST(window.start AS TIMESTAMP_NTZ) AS day_start",
        "event_type", "n")
    val w = Window.partitionBy("day_start")
      .orderBy(col("n").desc, col("event_type").asc)
    snap
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 3)
      .select("day_start", "rnk", "event_type", "n")
      .orderBy("day_start", "rnk")
  }

  val streamWindowedTopkOracle: String =
    """WITH counts AS (
         SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           event_type, count(*) AS n
         FROM events GROUP BY 1, 2)
       SELECT day_start, rnk, event_type, n FROM (
         SELECT day_start, event_type, n,
           row_number() OVER (PARTITION BY day_start
             ORDER BY n DESC, event_type ASC) AS rnk
         FROM counts)
       WHERE rnk <= 3 ORDER BY day_start, rnk"""

  val streamSlidingCountsOracle: String =
    """SELECT wstart AS win_start, count(*) AS n FROM (
         SELECT unnest([
           CAST(date_trunc('day', ts) AS TIMESTAMP),
           CAST(date_trunc('day', ts) AS TIMESTAMP) - INTERVAL 1 DAY
         ]) AS wstart
         FROM events)
       GROUP BY wstart ORDER BY win_start"""

  /** Batch sessionization (30-minute inactivity gap) via gaps-and-islands
    * — the deterministic batch twin of `session_window`; one shuffle by
    * user_id, two window passes, no self-join. */
  val sessionizeEvents: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts") - col("prev_ts") > expr("INTERVAL '30' MINUTE"), 1)
          .otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(wRun))
      .groupBy("user_id", "sess_id")
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_value"))
      .orderBy("user_id", "sess_id")
  }

  val sessionizeEventsOracle: String =
    """WITH marked AS (
         SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
       sess AS (
         SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
           ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS sess_id
         FROM marked)
       SELECT user_id, sess_id, min(ts) AS session_start,
         max(ts) AS session_end, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM sess GROUP BY user_id, sess_id ORDER BY user_id, sess_id"""

  /** Custom stateful streaming via mapGroupsWithState: later-message-wins
    * latest-record-per-key (the reference's core streaming-dedup
    * semantic, `KubeflowStockPricePrediction.ipynb:548-549`). State is
    * one (ts, event_id, value) triple per key. The memory-sink output is
    * compacted with a final rank so the result is identical however the
    * replay was micro-batched. */
  val streamStatefulLatest: Q = (s, dir) => {
    val ss = streamSession(s)
    statefulLatestCore(ss, eventStream(ss, dir), "stream_stateful_latest")
  }

  /** Core of the stateful latest-per-key op, parameterized by source so
    * tests can drive it with a multi-file (multi-micro-batch) replay. */
  private[graft] def statefulLatestCore(s: SparkSession,
      stream: DataFrame, name: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val ev = stream
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us", "value")
      .as[(Long, Long, Long, Double)]
    val latest = ev.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Double), (Long, Long, Long, Double)](
        GroupStateTimeout.NoTimeout) { (uid, rows, state) =>
        var cur = state.getOption.getOrElse((Long.MinValue, Long.MinValue, 0.0))
        rows.foreach { r =>
          if (r._3 > cur._1 || (r._3 == cur._1 && r._2 > cur._2))
            cur = (r._3, r._2, r._4)
        }
        state.update(cur)
        (uid, cur._2, cur._1, cur._3)
      }
      .toDF("user_id", "event_id", "ts_us", "value")
    val mem = runToTable(latest, name, "update")
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    mem.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .selectExpr("user_id", "event_id",
        "CAST(timestamp_micros(ts_us) AS TIMESTAMP_NTZ) AS ts", "value")
      .orderBy("user_id")
  }

  val streamStatefulLatestOracle: String =
    """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
       FROM events
       QUALIFY row_number() OVER (PARTITION BY user_id
         ORDER BY ts DESC, event_id DESC) = 1
       ORDER BY user_id"""

  /** foreachBatch parquet sink — the client-result-sink binding
    * (reference writes query results to CSV on a shared volume,
    * `KubeflowStockPricePrediction.ipynb:179-186`); foreachBatch is where
    * a production stream does idempotent/transactional writes. */
  val streamForeachBatchSink: Q = (s, dir) => {
    val out = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_fbsink_" +
        s"${ProcessHandle.current().pid()}_" +
        java.lang.Integer.toHexString(dir.hashCode))
    Memo.rmTree(out)
    val q = eventStream(s, dir)
      .selectExpr("event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts",
        "user_id", "event_type", "value")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out.getAbsolutePath)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.read.parquet(out.getAbsolutePath).orderBy("event_id")
  }

  val streamForeachBatchSinkOracle: String =
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
       value
       FROM events ORDER BY event_id"""

  /** Streaming CDC upsert — the foreachBatch + MERGE pattern every
    * warehouse-bound CDC pipeline runs (stream → per-batch upsert into
    * a maintained table): the event log replays as chronological
    * micro-batches (time-range-chunked staged copy, maxFilesPerTrigger
    * = 1), and each batch's per-user min-day is MERGEd into the
    * first-seen table through [[graft.operators.Merge.mergeUpsert]] —
    * matched users keep `least`, new users insert, and only the shards
    * the batch touches rewrite. The result read back after the stream
    * drains must equal the flat batch recompute (same oracle as
    * `merge_upsert_firstseen`), which only holds if every intermediate
    * state was upserted, not appended — the duplicate-free contract a
    * CDC sink actually needs. foreachBatch is exactly where Structured
    * Streaming hands over idempotent/transactional sinks; the merge's
    * partition swap makes replaying a failed batch safe (same batch →
    * same content). */
  val streamMergeUpsert: Q = (s, dir) => {
    val ss = streamSession(s)
    val chunks = chunkedEventsDir(ss, dir)
    val target = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_stream_merge_${graft.sources.Tables.fingerprint(dir, "events")}" +
        s"_${ProcessHandle.current().pid()}_${System.nanoTime()}")
    val q = rawFileStream(ss, chunks,
        Map("maxFilesPerTrigger" -> "1"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val firstSeen = batch
          .selectExpr("user_id", "CAST(to_date(ts) AS DATE) AS cohort_d")
          .groupBy("user_id").agg(min("cohort_d").as("cohort_d"))
        graft.operators.Merge.mergeUpsert(batch.sparkSession, target,
          firstSeen, "user_id", 8,
          (t, v) => least(t, v)): Unit
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    graft.operators.Merge.readTarget(s, target)
      .select(col("user_id"), col("cohort_d"))
      .orderBy("user_id")
  }

  /** Streaming CDC upsert via EQUALITY DELETES — the O(batch) twin of
    * [[streamMergeUpsert]]: that path re-plans a MERGE per micro-batch
    * (scanning matched groups); here the target table is declared
    * `write_upsert = equality-delete`, so each epoch's per-user latest
    * state APPENDS while the commit records key->bound equality
    * deletes from the staged part alone — no target data file is read
    * during the upsert commit (LakeEqUpsertSpec pins it with scan
    * metrics), the Iceberg equality-delete upsert. Replay is
    * idempotent BY CONSTRUCTION: re-appending a batch re-kills the
    * previous copies (the new bound covers them), so the table
    * converges to last-writer-wins whatever the retry history. The
    * chunks replay chronologically, so each user's final row derives
    * from their globally-latest event — the flat recompute the oracle
    * runs. */
  val streamLakeUpsertEq: Q = (s, dir) => {
    val ss = streamSession(s)
    // both sessions need the catalog binding: the stream (+ its
    // per-batch clones) writes through ss, the final read runs on s
    graft.sources.Lake.registerCatalog(s)
    graft.sources.Lake.registerCatalog(ss)
    val chunks = chunkedEventsDir(ss, dir)
    val tag = s"${graft.sources.Tables.fingerprint(dir, "events")}" +
      s"_${ProcessHandle.current().pid()}_${System.nanoTime()}"
    val tbl = s"graft_lake.lake.upsert_eq_$tag"
    ss.sql(s"""CREATE TABLE $tbl (user_id BIGINT, last_event_id BIGINT,
        last_cents BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8',
        'write_upsert'='equality-delete')""")
    val q = rawFileStream(ss, chunks, Map("maxFilesPerTrigger" -> "1"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // per-user LATEST state within the batch (key-unique by
        // construction — the upsert contract)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        batch
          .selectExpr("user_id", "ts", "event_id",
            "CAST(round(coalesce(value, CAST(0 AS DOUBLE)) * 100) " +
              "AS BIGINT) AS cents")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .selectExpr("user_id", "event_id AS last_event_id",
            "cents AS last_cents")
          .writeTo(tbl).append()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(tbl)
      .select("user_id", "last_event_id", "last_cents")
      .orderBy("user_id")
  }

  val streamLakeUpsertEqOracle: String =
    """WITH ranked AS (
         SELECT user_id, event_id,
           CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS cents,
           row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn
         FROM events)
       SELECT user_id, event_id AS last_event_id, cents AS last_cents
       FROM ranked WHERE rn = 1 ORDER BY user_id"""

  /** COMPOSITE-KEY equality-delete upsert (round 14): the same
    * streaming CDC shape as [[streamLakeUpsertEq]] but keyed on
    * `(user_id BIGINT, event_type STRING)` via the `upsert_keys`
    * table property — the real CDC shape, where the business key is
    * composite and partly string-typed. Routing stays on the BIGINT
    * shard key (which the composite must include, DDL-enforced);
    * the commit decodes BOTH key columns from the staged part and
    * records length-prefix-encoded composite bounds; readers mask by
    * the same encoding. Several users' types interleave per shard, so
    * any cross-key bleed (a bound killing a different type's row)
    * breaks the oracle hash immediately. */
  val streamLakeUpsertEq2: Q = (s, dir) => {
    val ss = streamSession(s)
    graft.sources.Lake.registerCatalog(s)
    graft.sources.Lake.registerCatalog(ss)
    val chunks = chunkedEventsDir(ss, dir)
    val tag = s"${graft.sources.Tables.fingerprint(dir, "events")}" +
      s"_${ProcessHandle.current().pid()}_${System.nanoTime()}"
    val tbl = s"graft_lake.lake.upsert_eq2_$tag"
    ss.sql(s"""CREATE TABLE $tbl (user_id BIGINT, event_type STRING,
        last_event_id BIGINT, last_cents BIGINT)
      TBLPROPERTIES ('shard_key'='user_id', 'n_shards'='8',
        'write_upsert'='equality-delete',
        'upsert_keys'='user_id,event_type')""")
    val q = rawFileStream(ss, chunks, Map("maxFilesPerTrigger" -> "1"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "event_type")
          .orderBy(col("ts").desc, col("event_id").desc)
        batch
          .selectExpr("user_id",
            "coalesce(event_type, '') AS event_type", "ts", "event_id",
            "CAST(round(coalesce(value, CAST(0 AS DOUBLE)) * 100) " +
              "AS BIGINT) AS cents")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .selectExpr("user_id", "event_type",
            "event_id AS last_event_id", "cents AS last_cents")
          .writeTo(tbl).append()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(tbl)
      .select("user_id", "event_type", "last_event_id", "last_cents")
      .orderBy("user_id", "event_type")
  }

  val streamLakeUpsertEq2Oracle: String =
    """WITH ranked AS (
         SELECT user_id, coalesce(event_type, '') AS event_type,
           event_id,
           CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS cents,
           row_number() OVER (
             PARTITION BY user_id, coalesce(event_type, '')
             ORDER BY ts DESC, event_id DESC) AS rn
         FROM events)
       SELECT user_id, event_type, event_id AS last_event_id,
              cents AS last_cents
       FROM ranked WHERE rn = 1 ORDER BY user_id, event_type"""

  /** Streaming EXACTLY-ONCE sink INTO the lake — the write direction
    * of the CDF loop (`stream_lake_cdf_source` reads commits out;
    * this replays the ts-chunked event log IN through `writeStream
    * .toTable` against [[graft.sources.GraftLakeTable]]'s
    * STREAMING_WRITE). Every micro-batch epoch lands as one ordinary
    * CAS commit that atomically records `queryId -> epochId` in the
    * snapshot's carried txn map, so a replayed epoch (restart from
    * checkpoint) commits nothing — [[graft.sources
    * .GraftLakeStreamingWrite]]. The table read back after the drain
    * must equal the flat batch projection of the log (oracle-exact):
    * that holds only if each chunk committed EXACTLY once —
    * a dropped epoch loses rows, a doubled replay duplicates
    * event_ids into the same shards. Monetary values ride as BIGINT
    * cents (the lake's exact-type discipline; no float-sum drift in
    * the cross-check aggregate). */
  val streamLakeSink: Q = (s, dir) => {
    val ss = streamSession(s)
    graft.sources.Lake.registerCatalog(ss)
    val chunks = chunkedEventsDir(ss, dir)
    val tag = s"${graft.sources.Tables.fingerprint(dir, "events")}" +
      s"_${ProcessHandle.current().pid()}_${System.nanoTime()}"
    val tbl = s"graft_lake.lake.stream_sink_$tag"
    ss.sql(s"""CREATE TABLE $tbl (event_id BIGINT, user_id BIGINT,
        d DATE, cents BIGINT)
      TBLPROPERTIES ('shard_key'='event_id', 'n_shards'='8')""")
    val cp = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_stream_sink_cp_$tag").getPath
    val q = rawFileStream(ss, chunks, Map("maxFilesPerTrigger" -> "1"))
      .selectExpr("event_id", "user_id", "CAST(ts AS DATE) AS d",
        "CAST(round(coalesce(value, CAST(0 AS DOUBLE)) * 100) " +
          "AS BIGINT) AS cents")
      .writeStream
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .toTable(tbl)
    q.awaitTermination()
    val out = ss.table(tbl)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum("cents").as("sum_cents"),
        min("d").as("first_d"),
        max("event_id").as("max_event_id"))
      .orderBy("user_id")
    out
  }

  val streamLakeSinkOracle: String =
    """SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT))
           AS BIGINT) AS sum_cents,
         min(CAST(ts AS DATE)) AS first_d,
         max(event_id) AS max_event_id
       FROM events GROUP BY 1 ORDER BY user_id"""

  /** Number of time-range chunks (= micro-batches) the replay twins
    * consume. Two, the semantic minimum: every consumer's oracle is a
    * flat recompute over the WHOLE log, and the stateful semantics
    * under test (watermark eviction inside the deterministic region,
    * last-writer-wins upserts, exactly-once epoch commits) only need
    * the watermark to genuinely advance BETWEEN batches — one chunk
    * boundary gives that (batch 2 runs with batch 1's watermark and
    * evicts/null-emits batch-1 state), and rows whose eviction needs
    * the FINAL watermark are flushed by the trailing no-data batch
    * (`noDataMicroBatches`, on by default) exactly as before — with 3
    * chunks the deterministic-region tail rows already relied on it.
    * Each extra chunk costs one more stateful micro-batch × two join
    * sides of state-store commits, the dominant cost of the
    * stream-stream outer joins; the 2-chunk replay is oracle-proven
    * identical (hash-exact at sf0.01/sf0.1) for all six consumers. */
  private[graft] val replayChunks = 2

  /** Time-range-chunked staged copy of the event log (one parquet
    * file per ts range — a chronological arrival log), built once per
    * corpus fingerprint. */
  private def chunkedEventsDir(s: SparkSession, dir: String): String =
    Memo.publish(s"graft_stream_chunks${replayChunks}_" +
        Tables.fingerprint(dir, "events")) { d =>
      Tables.events(s, dir)
        .repartitionByRange(replayChunks, col("ts"))
        .write.mode("overwrite").parquet(d.getPath)
      // the file stream admits files in MODIFICATION-TIME order, but
      // the range-partition tasks finish in arbitrary order — restamp
      // mtimes ascending in part order (= ts-range order) so the replay
      // is chronological; otherwise an out-of-order chunk arrives
      // entirely behind the watermark and stateful consumers (outer
      // joins) drop it as late data
      val t0 = System.currentTimeMillis() - 1000000L
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        .zipWithIndex
        .foreach { case (f, i) => f.setLastModified(t0 + i * 1000L): Unit }
    }.getPath

  /** Stream-stream inner join with watermarks on BOTH sides and a
    * time-range condition (the reference's Q2 weather⋈stock join in
    * streaming form — SURVEY §2.3: exactly what Structured Streaming
    * requires to bound join state): clicks matched to same-user
    * purchases within ±5 minutes. The emitted match set is independent
    * of micro-batching, so the batch range join is the oracle. */
  val streamStreamJoin: Q = (s, dir) => {
    val ss = streamSession(s)
    val clicks = eventStream(ss, dir)
      .filter(col("event_type") === "click")
      .selectExpr("event_id AS click_id", "user_id AS cu", "ts AS ct")
      .withWatermark("ct", "1 hour")
    val purchases = eventStream(ss, dir)
      .filter(col("event_type") === "purchase")
      .selectExpr("event_id AS purchase_id", "user_id AS pu", "ts AS pt")
      .withWatermark("pt", "1 hour")
    val joined = clicks.join(purchases,
      expr("""cu = pu AND
              pt >= ct - INTERVAL 5 MINUTES AND
              pt <= ct + INTERVAL 5 MINUTES"""))
    runToTable(joined, "stream_stream_join", "append")
      .selectExpr("click_id", "purchase_id", "cu AS user_id")
      .orderBy("click_id", "purchase_id")
  }

  val streamStreamJoinOracle: String =
    """WITH ev AS (
         SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
         FROM events)
       SELECT c.event_id AS click_id, p.event_id AS purchase_id,
         c.user_id
       FROM ev c JOIN ev p
         ON c.user_id = p.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND p.ts >= c.ts - INTERVAL 5 MINUTE
        AND p.ts <= c.ts + INTERVAL 5 MINUTE
       ORDER BY click_id, purchase_id"""

  /** Stream-stream LEFT OUTER join — the half of the streaming join
    * surface the inner variant can't show: an unmatched click's
    * null-extended row is emitted only when the WATERMARK passes its
    * join window (state eviction — Spark must prove no matching
    * purchase can still arrive), so the replay runs over the
    * ts-chunked multi-file log (maxFilesPerTrigger=1) where the
    * watermark genuinely advances between micro-batches. Emission at the exact
    * final-watermark EDGE is engine-timing-defined, so both the query
    * and the oracle restrict to the deterministic region: clicks older
    * than min(max click ts, max purchase ts) − (delay 10 m + window
    * 5 m + 1 m margin) are strictly evicted by end of stream — inside
    * that region the emitted set provably equals the batch left join.
    * State is bounded by the watermark on BOTH sides (the join's
    * 100 TB contract: stale state is dropped, not accumulated). */
  val streamStreamLeftJoin: Q = (s, dir) => {
    val ss = streamSession(s)
    val chunks = chunkedEventsDir(ss, dir)
    def src() = rawFileStream(ss, chunks,
      Map("maxFilesPerTrigger" -> "1"))
    val clicks = src().filter(col("event_type") === "click")
      .selectExpr("event_id AS click_id", "user_id AS cu", "ts AS ct")
      .withWatermark("ct", "10 minutes")
    val purchases = src().filter(col("event_type") === "purchase")
      .selectExpr("event_id AS purchase_id", "user_id AS pu", "ts AS pt")
      .withWatermark("pt", "10 minutes")
    val joined = clicks.join(purchases,
      expr("""cu = pu AND
              pt >= ct - INTERVAL 5 MINUTES AND
              pt <= ct + INTERVAL 5 MINUTES"""),
      "left_outer")
    val cutoff = graft.sources.Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("event_type").agg(max("ts").as("mt"))
      .agg(min("mt").as("min_max_ts"))
      .selectExpr("min_max_ts - INTERVAL 16 MINUTES AS cutoff")
    runToTable(joined, "stream_stream_left_join", "append")
      .crossJoin(broadcast(cutoff))
      .filter(col("ct").cast(TimestampNTZType) < col("cutoff"))
      .selectExpr("click_id", "purchase_id", "cu AS user_id",
        "CAST(ct AS TIMESTAMP_NTZ) AS ct")
      .orderBy(col("click_id"), col("purchase_id").asc_nulls_first)
  }

  val streamStreamLeftJoinOracle: String =
    """WITH ev AS (
         SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
         FROM events),
       c AS (SELECT event_id AS click_id, user_id, ts FROM ev
             WHERE event_type = 'click'),
       p AS (SELECT event_id AS purchase_id, user_id, ts FROM ev
             WHERE event_type = 'purchase'),
       cut AS (
         SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
           - INTERVAL 16 MINUTE AS cutoff)
       SELECT c.click_id, p.purchase_id, c.user_id, c.ts AS ct
       FROM c
       LEFT JOIN p ON p.user_id = c.user_id
         AND p.ts >= c.ts - INTERVAL 5 MINUTE
         AND p.ts <= c.ts + INTERVAL 5 MINUTE
       CROSS JOIN cut
       WHERE c.ts < cut.cutoff
       ORDER BY click_id, purchase_id NULLS FIRST"""

  /** Stream-stream FULL OUTER join — both null directions: unmatched
    * clicks AND unmatched purchases emit on watermark eviction. Same
    * deterministic-region discipline as [[streamStreamLeftJoin]],
    * applied to whichever side drives the row (`coalesce(ct, pt)`). */
  val streamStreamFullJoin: Q = (s, dir) => {
    val ss = streamSession(s)
    val chunks = chunkedEventsDir(ss, dir)
    def src() = rawFileStream(ss, chunks,
      Map("maxFilesPerTrigger" -> "1"))
    val clicks = src().filter(col("event_type") === "click")
      .selectExpr("event_id AS click_id", "user_id AS cu", "ts AS ct")
      .withWatermark("ct", "10 minutes")
    val purchases = src().filter(col("event_type") === "purchase")
      .selectExpr("event_id AS purchase_id", "user_id AS pu", "ts AS pt")
      .withWatermark("pt", "10 minutes")
    val joined = clicks.join(purchases,
      expr("""cu = pu AND
              pt >= ct - INTERVAL 5 MINUTES AND
              pt <= ct + INTERVAL 5 MINUTES"""),
      "full_outer")
    val cutoff = graft.sources.Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("event_type").agg(max("ts").as("mt"))
      .agg(min("mt").as("min_max_ts"))
      .selectExpr("min_max_ts - INTERVAL 16 MINUTES AS cutoff")
    runToTable(joined, "stream_stream_full_join", "append")
      .crossJoin(broadcast(cutoff))
      .filter(coalesce(col("ct"), col("pt")).cast(TimestampNTZType) <
        col("cutoff"))
      .selectExpr("click_id", "purchase_id",
        "coalesce(cu, pu) AS user_id")
      .orderBy(col("click_id").asc_nulls_first,
        col("purchase_id").asc_nulls_first)
  }

  val streamStreamFullJoinOracle: String =
    """WITH ev AS (
         SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
         FROM events),
       c AS (SELECT event_id AS click_id, user_id, ts FROM ev
             WHERE event_type = 'click'),
       p AS (SELECT event_id AS purchase_id, user_id, ts FROM ev
             WHERE event_type = 'purchase'),
       cut AS (
         SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
           - INTERVAL 16 MINUTE AS cutoff)
       SELECT c.click_id, p.purchase_id,
         coalesce(c.user_id, p.user_id) AS user_id
       FROM c
       FULL JOIN p ON p.user_id = c.user_id
         AND p.ts >= c.ts - INTERVAL 5 MINUTE
         AND p.ts <= c.ts + INTERVAL 5 MINUTE
       CROSS JOIN cut
       WHERE coalesce(c.ts, p.ts) < cut.cutoff
       ORDER BY click_id NULLS FIRST, purchase_id NULLS FIRST"""

  /** The custom histogram-quantile sketch INSIDE a streaming window
    * aggregation: per-day median of event values. TypedImperativeAggregate
    * buffers serialize into the state store between micro-batches, so the
    * sketch streams exactly like a built-in aggregate — per-day state is
    * one 256-bucket count vector regardless of event volume, and the
    * result is micro-batch-order independent (commutative merges). The
    * oracle replays the histogram + interpolation with day grouping. */
  val streamHistQuantile: Q = (s, dir) => {
    val ss = streamSession(s)
    // complete mode — no watermark (no-op for eviction there; see
    // tumblingCore doc)
    val agg = eventStream(ss, dir)
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"),
        round(expr("graft_hist_quantile(value, 0.0D, 512.0D, 256, 0.5D)"),
          6).as("p50"))
    runToTable(agg, "stream_hist_quantile", "complete")
      .selectExpr("CAST(window.start AS TIMESTAMP_NTZ) AS day_start",
        "n", "p50")
      .orderBy("day_start")
  }

  val streamHistQuantileOracle: String =
    """WITH e AS (
         SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           value
         FROM events WHERE value IS NOT NULL),
       b AS (
         SELECT day_start,
           LEAST(GREATEST(CAST(floor((value - 0.0) / 2.0) AS BIGINT), 0),
             255) AS bi,
           count(*) AS c
         FROM e GROUP BY 1, 2),
       t AS (SELECT day_start, CAST(sum(c) AS BIGINT) AS n
             FROM b GROUP BY 1),
       cw AS (
         SELECT day_start, bi, c,
           CAST(sum(c) OVER (PARTITION BY day_start ORDER BY bi)
             AS BIGINT) AS cum
         FROM b),
       sel AS (
         SELECT cw.day_start, cw.bi, cw.c, cw.cum - cw.c AS cumb, t.n
         FROM cw JOIN t USING (day_start)
         WHERE cw.cum >= 0.5 * t.n
         QUALIFY row_number() OVER (PARTITION BY cw.day_start
           ORDER BY cw.bi) = 1)
       SELECT day_start, n,
         round(0.0 + 2.0 * (bi + (0.5 * n - cumb) / c), 6) AS p50
       FROM sel ORDER BY day_start"""

  /** EXACT distinct counting INSIDE streaming state via the 64-bit
    * Roaring bitmap aggregate (graft.plans.Bitmap64Distinct): distinct
    * widened (user, event-low-word) composite keys per event type over
    * the whole stream (user_id·2³² + event_id mod 2³² — deliberately a
    * composite, so the state exercises high-bit buckets; a per-user
    * distinct would aggregate plain user_id). The serialized bitmap
    * IS the streaming state between micro-batches — exact like
    * COUNT(DISTINCT) (which streaming aggregation refuses outright:
    * Spark cannot incrementalize the expand-distinct plan), mergeable
    * like a sketch, and sized to the distinct-key count rather than the
    * event volume. The key is widened past 2³¹ (user_id·2³² + low bits)
    * so the stream exercises the full BIGINT domain end-to-end. The
    * oracle is the batch COUNT(DISTINCT) of the same widened key. */
  val streamExactDistinct: Q = (s, dir) => {
    val ss = streamSession(s)
    exactDistinctCore(ss, eventStream(ss, dir), "stream_exact_distinct")
  }

  /** Core of the streaming exact distinct, parameterized by source so
    * the spec can replay it over multi-file micro-batches (the bitmap
    * buffer must survive state-store serialize/merge between batches,
    * and the union must make the answer batch-split independent). */
  private[graft] def exactDistinctCore(s: SparkSession, stream: DataFrame,
      name: String): DataFrame = {
    val agg = stream
      .groupBy(col("event_type"))
      .agg(expr(
        "graft_bitmap_distinct64(user_id * 4294967296L + event_id % 4294967296L)")
        .as("nd_wide"))
    runToTable(agg, name, "complete")
      .select("event_type", "nd_wide")
      .orderBy("event_type")
  }

  val streamExactDistinctOracle: String =
    """SELECT event_type,
         count(DISTINCT user_id * 4294967296 + event_id % 4294967296)
           AS nd_wide
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** The Misra-Gries frequent-items summary INSIDE streaming state: top
    * users per event type over the whole stream. Like the histogram
    * sketch above, the TypedImperativeAggregate buffer serializes into
    * the state store between micro-batches — per-group state is one
    * bounded counter map (<= capacity entries) however many events
    * arrive, and the Agarwal merge makes the result micro-batch-order
    * independent. Capacity 65536 exceeds the harness's distinct users
    * per type at every tested scale (1.5 k at sf0.1, ~15 k at sf1), so
    * counts are exact and the oracle is a plain GROUP BY; the
    * bounded-regime contracts live in FrequentItemsSpec. */
  val streamHeavyHitters: Q = (s, dir) => {
    val ss = streamSession(s)
    heavyHittersCore(ss, eventStream(ss, dir), "stream_heavy_hitters")
  }

  /** Core of the streaming heavy hitters, parameterized by source so the
    * spec can drive it with a multi-file micro-batch replay (the buffer
    * must survive state-store serialize/deserialize between batches). */
  private[graft] def heavyHittersCore(s: SparkSession, stream: DataFrame,
      name: String): DataFrame = {
    val agg = stream
      .groupBy(col("event_type"))
      .agg(expr(
        "graft_frequent_items(CAST(user_id AS STRING), 65536)").as("hh"))
    runToTable(agg, name, "complete")
      .selectExpr("event_type", "posexplode(hh) AS (pos, e)")
      .filter(col("pos") < 5)
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
        col("e.term").as("user_id"), col("e.cnt").as("cnt"))
      .orderBy("event_type", "rank")
  }

  val streamHeavyHittersOracle: String =
    """WITH c AS (
         SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
           count(*) AS cnt
         FROM events GROUP BY 1, 2),
       r AS (
         SELECT event_type, user_id, cnt,
           row_number() OVER (PARTITION BY event_type
             ORDER BY cnt DESC, user_id ASC) AS rank
         FROM c)
       SELECT event_type, rank, user_id, cnt FROM r WHERE rank <= 5
       ORDER BY event_type, rank"""

  /** Arbitrary-state streaming v2: per-user running aggregate via
    * `transformWithState` (Spark 4's StatefulProcessor API) over a
    * RocksDB state store. State is ONE (n, sum_cents, last_ts, last_id)
    * tuple per key — constant per user regardless of volume; sums are
    * integer cents so the result is exact under any micro-batching.
    * RocksDB keeps state off-heap and incrementally checkpointed — the
    * 100 TB knob: state capacity scales with disk, not executor heap. */
  private class RunningAggProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, Long), (Long, Long, Long, Long)] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode,
      TimerValues, ValueState}
    @transient private var st: ValueState[(Long, Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("agg",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      var (n, sum, lts, lid) =
        if (st.exists()) st.get() else (0L, 0L, Long.MinValue, Long.MinValue)
      rows.foreach { case (_, eid, tsUs, cents) =>
        n += 1
        sum += cents
        if (tsUs > lts || (tsUs == lts && eid > lid)) { lts = tsUs; lid = eid }
      }
      st.update((n, sum, lts, lid))
      Iterator.single((key, n, sum, lid))
    }
  }

  val streamTwsRunningAgg: Q = (s, dir) => {
    val ss = streamSession(s)
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    twsCore(ss, eventStream(ss, dir), "stream_tws_running_agg")
  }

  /** Core of the transformWithState running aggregate, parameterized by
    * source so tests can drive it with a multi-file micro-batch replay.
    * The caller's session must have the RocksDB state-store provider set
    * (transformWithState requires it). */
  private[graft] def twsCore(s: SparkSession, stream: DataFrame,
      name: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val ev = stream
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us",
        "CAST(round(coalesce(value, CAST(0 AS DOUBLE)) * 100) AS BIGINT)" +
          " AS cents")
      .as[(Long, Long, Long, Long)]
    val out = ev.groupByKey(_._1)
      .transformWithState(new RunningAggProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_events", "sum_cents", "last_event_id")
    val mem = runToTable(out, name, "update")
    // compact the update-mode emissions: n_events strictly grows per key
    // across batches, so the max-n row is the final state however the
    // replay was micro-batched
    val w = Window.partitionBy("user_id").orderBy(col("n_events").desc)
    mem.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("user_id", "n_events", "sum_cents", "last_event_id")
      .orderBy("user_id")
  }

  val streamTwsRunningAggOracle: String =
    """WITH agg AS (
         SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT))
             AS BIGINT) AS sum_cents
         FROM events GROUP BY 1),
       last AS (
         SELECT user_id, event_id AS last_event_id FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id
           ORDER BY ts DESC, event_id DESC) = 1)
       SELECT a.user_id, n_events, sum_cents, last_event_id
       FROM agg a JOIN last USING (user_id) ORDER BY user_id"""

  val ops: Seq[Op] = Seq(
    Op("stream_tws_running_agg", streamTwsRunningAgg,
      streamTwsRunningAggOracle),
    Op("stream_stream_join", streamStreamJoin, streamStreamJoinOracle),
    Op("stream_hist_quantile", streamHistQuantile, streamHistQuantileOracle),
    Op("stream_heavy_hitters", streamHeavyHitters, streamHeavyHittersOracle),
    Op("stream_exact_distinct", streamExactDistinct, streamExactDistinctOracle),
    Op("stream_foreach_batch_sink", streamForeachBatchSink,
      streamForeachBatchSinkOracle),
    Op("stream_merge_upsert", streamMergeUpsert,
      graft.operators.Merge.mergeUpsertFirstSeenOracle),
    Op("stream_lake_sink", streamLakeSink, streamLakeSinkOracle),
    Op("stream_lake_upsert_eq", streamLakeUpsertEq, streamLakeUpsertEqOracle),
    Op("stream_lake_upsert_eq2", streamLakeUpsertEq2,
      streamLakeUpsertEq2Oracle),
    Op("stream_stream_left_join", streamStreamLeftJoin,
      streamStreamLeftJoinOracle),
    Op("stream_stream_full_join", streamStreamFullJoin,
      streamStreamFullJoinOracle),
    Op("stream_stateful_latest", streamStatefulLatest,
      streamStatefulLatestOracle),
    Op("stream_dedup_keys", streamDedupKeys, streamDedupKeysOracle),
    Op("stream_tumbling_counts", streamTumblingCounts,
      streamTumblingCountsOracle),
    Op("stream_sliding_counts", streamSlidingCounts, streamSlidingCountsOracle),
    Op("stream_windowed_topk", streamWindowedTopk, streamWindowedTopkOracle),
    Op("stream_static_join", streamStaticJoin, streamStaticJoinOracle),
    Op("sessionize_events", sessionizeEvents, sessionizeEventsOracle))
}
