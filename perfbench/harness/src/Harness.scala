package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Closed-loop workload driver. Reads a plan written by `run.py`
  * (statements, clients, set-up steps), sets the engine up from empty
  * directories, runs every client for `seconds`, and writes
  * per-operation records plus each distinct statement's first result
  * rows for the DuckDB check.
  *
  * Usage: Harness <plan.json>
  */
object Harness {
  private val om = new ObjectMapper()

  /** One timed operation, as the client thread saw it. */
  final case class OpRec(id: String, client: String, stmt: String,
      warm: Boolean, cls: String, t0Ms: Long, entryMs: Double, wallMs: Double,
      endMs: Long, ok: Boolean, err: String, rows: Int, steal: Double,
      pins: Map[String, Int], plan: Map[String, Double])

  /** First execution of a distinct statement text. */
  final class Stmt(val id: String, val text: String, val tmpl: String, val shape: String,
      val cls: String, val check: Boolean, val pins: Map[String, Int],
      val rows: Array[Row], val schema: StructType, val hash: Int)

  def main(args: Array[String]): Unit = {
    exitWithParent()
    HeapAfterGc.install()
    Speedometer.start()
    val plan = om.readTree(new File(args(0)))
    val out = new File(plan.get("out_dir").asText())
    val cpus = plan.get("cpus").asInt()
    val trace = plan.get("trace").asBoolean()
    val seconds = plan.get("seconds").asDouble()
    val dir = plan.get("data_dir").asText()

    // ---- set-up, timed from JVM start ------------------------------------
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan.get("tmp_dir").asText())
    graft.sources.Tables.sessionConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (trace) new TraceListener else null
    if (trace) spark.sparkContext.addSparkListener(listener)
    println(f"[perfbench] setup session ${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s")
    runSetup(spark, plan.get("setup"), dir)
    val setupEndMs = System.currentTimeMillis()
    val setupS = (setupEndMs - jvmStart) / 1000.0
    val setupSteal = Option(plan.get("host_stat0"))
      .map(h => Steal.share((h.get(0).asLong, h.get(1).asLong), Steal.stat())).getOrElse(0.0)
    val lakeRoot = spark.conf.getOption("spark.sql.catalog.graft_lake.path")

    // ---- tables whose committed version readers pin ---------------------
    val versions = new ConcurrentHashMap[String, AtomicInteger]()
    val baseVersions = mutable.Map[String, Int]()
    for (t <- Option(plan.get("pinned_tables")).toSeq.flatMap(_.elements().asScala)) {
      val v = graft.sources.GraftLakeIO.latestVersion(
        new File(lakeRoot.get, t.asText).getPath)
      versions.put(t.asText, new AtomicInteger(v))
      baseVersions(t.asText) = v
    }

    // ---- the measured window --------------------------------------------
    val stmts = new ConcurrentHashMap[String, Stmt]()
    val ops = java.util.Collections.synchronizedList(new java.util.ArrayList[OpRec]())
    val clients = plan.get("clients").elements().asScala.toSeq
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(clients.size)
    val window = new Window(plan.get("warmup_passes").asInt, seconds)
    clients.foreach { c =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          runClient(spark, c, dir, window, trace, versions,
            baseVersions.toMap, lakeRoot, stmts, ops)
        }
      }): Unit
    }
    start.countDown()
    // operations started before the window opens are checked, not measured
    def waitFor(ns: => Long): Unit =
      while (System.nanoTime() < ns) Thread.sleep(5)
    waitFor(window.openNs)
    val openMs = System.currentTimeMillis()
    val cpu0 = osBean.getProcessCpuTime
    val jit0 = jitCpuS()
    val host0 = Steal.stat()
    val lake0 = lakeCounters()
    waitFor(window.closeNs)
    val closeMs = System.currentTimeMillis()
    val jitS = jitCpuS() - jit0
    val windowSteal = Steal.share(host0, Steal.stat())
    val cpuS = (osBean.getProcessCpuTime - cpu0) / 1e9 - jitS
    val lake1 = lakeCounters()
    val windowS = (window.closeNs - window.openNs) / 1e9
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.HOURS)

    // ---- outside the window: results, layer split, files ---------------
    out.mkdirs()
    val opList = ops.asScala.toSeq.sortBy(o => (o.t0Ms, o.id))
    writeResults(spark, stmts.values.asScala.toSeq, new File(out, "results"))
    val finals = Option(plan.get("final_checks")).toSeq
      .flatMap(_.elements().asScala).map { f =>
        val t = f.get("table").asText
        val v = Option(versions.get(t)).map(_.get).getOrElse(0)
        val sql = f.get("sql").asText.replace(s"{v:$t}", v.toString)
        val df = spark.sql(sql)
        (t, v, sql, df.collect(), df.schema, dirBytes(new File(lakeRoot.get, t)))
      }
    finals.foreach { case (t, _, _, rows, schema, _) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(out, s"final_$t").getPath)
    }
    val summary = om.createObjectNode()
    summary.put("setup_s", setupS)
    summary.put("setup_steal", setupSteal)
    summary.put("window_s", windowS)
    summary.put("window_steal", windowSteal)
    val speed = summary.putArray("speed")
    Speedometer.samples.synchronized(Speedometer.samples.asScala.toList).foreach {
      case (t, c) => speed.addArray().add(t).add(c)
    }
    summary.put("jvm_start_ms", jvmStart)
    summary.put("setup_end_ms", setupEndMs)
    summary.put("window_open_ms", openMs)
    summary.put("window_close_ms", closeMs)
    summary.put("cpu_s", cpuS)
    summary.put("jit_cpu_s", jitS)
    summary.put("peak_rss_mb", vmHwmMb())
    summary.put("peak_heap_after_gc_mb", HeapAfterGc.peakBytes / 1048576.0)
    summary.put("peak_non_heap_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0)
    summary.put("spark_version", spark.version)
    summary.put("java_version", System.getProperty("java.version"))
    summary.put("max_heap_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    val bv = summary.putObject("base_versions")
    baseVersions.foreach { case (t, v) => bv.put(t, v) }
    val fin = summary.putArray("finals")
    finals.foreach { case (t, v, sql, rows, _, bytes) =>
      val o = fin.addObject()
      o.put("table", t); o.put("version", v); o.put("sql", sql)
      o.put("rows", rows.length); o.put("bytes", bytes)
    }
    val orc = summary.putObject("oracles")
    stmts.values.asScala.map(_.text).filter(_.startsWith("key:")).map(_.drop(4))
      .foreach(k => graft.SparkEntry.oracleSql.get(k).foreach(orc.put(k, _)))
    val lk = summary.putObject("lake_counters")
    lakeCounters().keys.foreach(k => lk.put(k, lake1(k) - lake0(k)))
    if (trace) {
      org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
      listener.fill(summary, opList.filterNot(_.warm), cpus, windowS)
    }
    val opsOut = new StringBuilder
    opList.foreach { o =>
      val n = om.createObjectNode()
      n.put("id", o.id); n.put("client", o.client); n.put("stmt", o.stmt)
      n.put("warm", o.warm)
      n.put("cls", o.cls); n.put("t0_ms", o.t0Ms); n.put("entry_ms", o.entryMs)
      n.put("wall_ms", o.wallMs); n.put("ok", o.ok); n.put("err", o.err)
      n.put("rows", o.rows); n.put("steal", o.steal)
      val p = n.putObject("pins"); o.pins.foreach { case (k, v) => p.put(k, v) }
      val pl = n.putObject("plan"); o.plan.foreach { case (k, v) => pl.put(k, v) }
      if (trace) listener.opFields(o, n)
      opsOut.append(om.writeValueAsString(n)).append('\n')
    }
    Files.write(new File(out, "ops.jsonl").toPath, opsOut.toString.getBytes(UTF_8))
    val stArr = om.createArrayNode()
    stmts.values.asScala.toSeq.sortBy(_.id).foreach { s =>
      val n = stArr.addObject()
      n.put("id", s.id); n.put("text", s.text); n.put("tmpl", s.tmpl); n.put("shape", s.shape)
      n.put("cls", s.cls); n.put("check", s.check); n.put("rows", s.rows.length)
      val p = n.putObject("pins"); s.pins.foreach { case (k, v) => p.put(k, v) }
    }
    Files.write(new File(out, "stmts.json").toPath,
      om.writeValueAsString(stArr).getBytes(UTF_8))
    Files.write(new File(out, "summary.json").toPath,
      om.writeValueAsString(summary).getBytes(UTF_8))
    spark.stop()
    System.exit(0)
  }

  /** A harness whose launcher is gone (killed, timed out) stops too. */
  private def exitWithParent(): Unit = {
    val parent = ProcessHandle.current().parent()
    val t = new Thread(() => {
      while (parent.map[Boolean](_.isAlive).orElse(false)) Thread.sleep(1000)
      Runtime.getRuntime.halt(3)
    })
    t.setDaemon(true)
    t.start()
  }

  // ---- set-up ------------------------------------------------------------

  private def runSetup(spark: SparkSession, setup: JsonNode, dir: String): Unit = {
    def step(what: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[perfbench] setup $what%-60.60s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val cats = setup.get("catalogs").elements().asScala.map(_.asText).toSet
    if (cats("lake")) step("lake")(graft.sources.Lake.registerCatalog(spark))
    if (cats("jdbc")) step("jdbc")(graft.sources.Jdbc.registerCatalog(spark, dir))
    if (cats("mongo")) step("mongo")(graft.sources.Mongo.registerCatalog(spark, dir))
    setup.get("sql").elements().asScala.foreach { s =>
      step(s.asText.replace("\n", " "))(spark.sql(s.asText.replace("{dir}", dir)).collect(): Unit)
    }
    setup.get("warm_keys").elements().asScala.foreach { k =>
      step(k.asText) {
        graft.SparkEntry.queries(k.asText)(spark, dir).collect(): Unit
        spark.catalog.clearCache()
      }
    }
  }

  // ---- one client --------------------------------------------------------

  /** When the measured window opens and closes, on the pass boundaries of
    * the pacing client (the one with `whole_passes`; every plan has one).
    * The window opens when that client has made `warmupPasses` passes and
    * closes at its boundary nearest `seconds` later. So a window holds
    * whole passes of its statements, and the warm-up before it is the same
    * work however fast the host runs that day. */
  final class Window(warmupPasses: Int, seconds: Double) {
    @volatile var openNs: Long = Long.MaxValue
    @volatile var closeNs: Long = Long.MaxValue
    private var passes = 0
    private var lastNs = 0L

    /** Called by the pacing client at each pass boundary; false ends it. */
    def boundary(now: Long): Boolean = {
      if (openNs == Long.MaxValue) {
        if (passes >= warmupPasses) openNs = now
      } else if (now >= openNs + (seconds * 1e9).toLong - (now - lastNs) / 2) {
        closeNs = now
      }
      passes += 1
      lastNs = now
      closeNs == Long.MaxValue
    }
  }

  private val pinRe = """\{v(-\d+)?:([a-z_]+)\}""".r

  private def runClient(spark: SparkSession, client: JsonNode, dir: String,
      window: Window, trace: Boolean,
      versions: ConcurrentHashMap[String, AtomicInteger],
      baseVersions: Map[String, Int], lakeRoot: Option[String],
      stmts: ConcurrentHashMap[String, Stmt],
      ops: java.util.List[OpRec]): Unit = {
    val name = client.get("name").asText
    val list = client.get("ops").elements().asScala.toIndexedSeq
    val sc = spark.sparkContext
    val pass = Option(client.get("whole_passes")).map(_.asInt)
    var i = 0
    def more: Boolean = pass match {
      case Some(n) if i % n == 0 => window.boundary(System.nanoTime())
      case Some(_) => true
      case None => System.nanoTime() < window.closeNs
    }
    while (more) {
      val op = list(i % list.size)
      val opId = s"$name-$i"
      i += 1
      val cls = op.get("cls").asText
      val key = Option(op.get("key")).map(_.asText)
      // reader statements pin the latest committed version of a table
      val pins = mutable.Map[String, Int]()
      val text = key.map(k => s"key:$k").getOrElse {
        pinRe.replaceAllIn(op.get("sql").asText.replace("{dir}", dir), m => {
          val t = m.group(2)
          val back = Option(m.group(1)).map(_.toInt).getOrElse(0)
          val v = math.max(baseVersions(t), versions.get(t).get + back)
          pins(t) = v
          v.toString
        })
      }
      val published = Option(op.get("publishes")).toSeq
        .flatMap(_.elements().asScala).map(t => new File(lakeRoot.get, t.asText))
      val before = if (trace) published.map(f => (dirBytes(f), dirFiles(f))) else Nil
      sc.setJobGroup(opId, text.take(80), interruptOnCancel = false)
      val host0 = Steal.stat()
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      var err = ""
      var rows: Array[Row] = Array.empty
      var df: DataFrame = null
      try {
        df = key match {
          case Some(k) => graft.SparkEntry.queries(k)(spark, dir)
          case None => spark.sql(text)
        }
        t1 = System.nanoTime()
        rows = df.collect()
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = System.nanoTime()
          err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      val t2 = System.nanoTime()
      val steal = Steal.share(host0, Steal.stat())
      sc.clearJobGroup()
      // ---- outside the timed span ----
      if (key.isDefined) spark.catalog.clearCache()
      Option(op.get("publishes")).foreach(_.elements().asScala.foreach { t =>
        val v = graft.sources.GraftLakeIO.latestVersion(
          new File(lakeRoot.get, t.asText).getPath)
        versions.get(t.asText).set(v)
        pins(t.asText) = v
      })
      var ok = err.isEmpty
      val check = Option(op.get("check")).forall(_.asBoolean)
      if (ok && check) {
        val h = rowsHash(rows)
        val sid = Integer.toHexString(text.hashCode) + "_" + text.length
        val first = stmts.computeIfAbsent(text, _ => new Stmt(sid, text,
          tmplOf(op), op.get("shape").asText, cls, check, pins.toMap, rows, df.schema, h))
        if (first.hash != h) {
          ok = false
          err = "rows differ from the statement's first execution"
        }
      } else if (ok) {
        // writes are checked through the pinned reads and final state
        val sid = Integer.toHexString(text.hashCode) + "_" + text.length
        stmts.putIfAbsent(text, new Stmt(sid, text, tmplOf(op), op.get("shape").asText,
          cls, false, pins.toMap, Array.empty, new StructType(), 0))
      }
      val written = if (trace && published.nonEmpty) {
        val after = published.map(f => (dirBytes(f), dirFiles(f)))
        Map("bytes_written" -> (after.map(_._1).sum - before.map(_._1).sum).toDouble,
          "files_written" -> (after.map(_._2).sum - before.map(_._2).sum).toDouble)
      } else Map.empty[String, Double]
      val planInfo = written ++
        (if (trace && df != null) planFields(df) else Map.empty[String, Double])
      ops.add(OpRec(opId, name, text, t0 < window.openNs, cls, t0Ms, (t1 - t0) / 1e6,
        (t2 - t0) / 1e6, t0Ms + (t2 - t0) / 1000000L, ok, err,
        rows.length, steal, pins.toMap, planInfo))
    }
  }

  private def tmplOf(op: JsonNode): String =
    Option(op.get("sql")).map(_.asText).getOrElse("key:" + op.get("key").asText)

  private def rowsHash(rows: Array[Row]): Int =
    java.util.Arrays.hashCode(rows.map(_.toString.hashCode))

  // ---- plan-level fields of one operation (trace runs) --------------------

  private object Plans extends AdaptiveSparkPlanHelper

  private def planFields(df: DataFrame): Map[String, Double] = {
    val qe = df.queryExecution
    val phases = qe.tracker.phases
    def ph(n: String) = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val spans = phases.values.map(p => (p.startTimeMs, p.endTimeMs)).toSeq
    val plan: SparkPlan = try qe.executedPlan catch { case _: Throwable => null }
    var exchanges, broadcasts, scanRows = 0.0
    if (plan != null) {
      Plans.collectWithSubqueries(plan) { case p => p }.foreach {
        case _: ShuffleExchangeLike => exchanges += 1
        case _: BroadcastExchangeLike => broadcasts += 1
        case p if p.children.isEmpty =>
          scanRows += p.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
        case _ =>
      }
    }
    Map("analysis_ms" -> ph("analysis"), "optimization_ms" -> ph("optimization"),
      "planning_ms" -> ph("planning"), "exchanges" -> exchanges,
      "broadcasts" -> broadcasts, "scan_rows" -> scanRows,
      "phase_start_ms" -> spans.map(_._1).minOption.getOrElse(0L).toDouble,
      "phase_spans" -> spans.size.toDouble) ++
      spans.zipWithIndex.flatMap { case ((a, b), k) =>
        Seq(s"phase${k}_a" -> a.toDouble, s"phase${k}_b" -> b.toDouble)
      }
  }

  // ---- results of each distinct statement, for the DuckDB check -----------

  private def writeResults(spark: SparkSession, all: Seq[Stmt], dir: File): Unit = {
    // one parquet per statement shape: rows of every distinct statement
    // of that shape, tagged with the statement id
    all.filter(_.check).groupBy(_.shape).foreach {
      case (shape, group) =>
        val schema = StructType(StructField("__stmt", StringType, nullable = false) +:
          StructField("__row", IntegerType, nullable = false) +: group.head.schema.fields)
        val rows = group.flatMap(s => s.rows.zipWithIndex.map { case (r, i) =>
          Row.fromSeq(s.id +: i +: r.toSeq)
        })
        val bySchema = group.forall(_.schema == group.head.schema)
        if (bySchema)
          spark.createDataFrame(rows.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(new File(dir, shape).getPath)
        else group.foreach { s =>
          val rows = s.rows.toSeq.zipWithIndex.map { case (r, i) => Row.fromSeq(i +: r.toSeq) }
          spark.createDataFrame(rows.asJava,
            StructType(StructField("__row", IntegerType, nullable = false) +: s.schema.fields))
            .withColumn("__stmt", lit(s.id)).coalesce(1)
            .write.mode("overwrite").parquet(new File(dir, s"${shape}__${s.id}").getPath)
        }
    }
  }

  // ---- process-global counters (read as per-workload deltas) --------------

  private def lakeCounters(): Map[String, Long] = {
    val l = graft.sources.GraftLakeScanMetrics
    val m = graft.sources.GraftMongoScanMetrics
    Map("lake_shards_planned" -> l.planned.get,
      "lake_shards_skipped" -> (l.skippedByStats.get + l.skippedByBloom.get),
      "lake_parts_skipped" -> l.skippedParts.get,
      "lake_cols_decoded" -> l.decodedColumns.get,
      "lake_batches_decoded" -> l.batchesDecoded.get,
      "lake_metadata_only_reads" -> l.metadataOnlyReads.get,
      "lake_agg_pushdowns" -> l.aggPushdowns.get,
      "parts_adopted" -> l.adoptedParts.get,
      "parts_merged" -> l.mergedParts.get,
      "writer_rotations" -> l.writerRotations.get,
      "mongo_cols_decoded" -> m.decodedColumns.get)
  }

  /** The largest heap in use just after any collection, over the JVM's life. */
  private object HeapAfterGc extends NotificationListener {
    @volatile var peakBytes = 0L
    private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peakBytes = math.max(peakBytes, used) }
      }
  }

  /** The host's steal time: CPU time the hypervisor gave to other guests
    * while this one's processors wanted to run, from /proc/stat. On a
    * shared host it comes and goes for minutes at a time and stretches
    * every wall time by 1 / (1 - share); the run reports its wall times
    * net of it. */
  private[perfbench] object Steal {
    /** (steal, busy including steal), in clock ticks. */
    def stat(): (Long, Long) = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
      // user nice system idle iowait irq softirq steal
      (f(7), f(0) + f(1) + f(2) + f(5) + f(6) + f(7))
    } catch { case _: Exception => (0L, 0L) }

    /** The share of busy time stolen between two readings. */
    def share(a: (Long, Long), b: (Long, Long)): Double = {
      val busy = b._2 - a._2
      if (busy <= 0) 0.0 else math.min(0.9, (b._1 - a._1).toDouble / busy)
    }
  }

  /** Host speed. On a shared machine this VM's processors ran up to 1.7
    * times slower for minutes at a time, with no steal time to show for
    * it: other guests share their cores and caches. A daemon thread runs
    * one fixed job every 350 ms and records the CPU time it took, so time
    * spent waiting for a core is not in it. The job is a sort and hash
    * count of 100 000 longs (compute) and 100 000 steps of a pointer chase
    * round a 16 MB ring off the heap (memory latency). `run.py` scales
    * every time of the run by the job's median time over the same span. */
  private[perfbench] object Speedometer {
    /** (wall-clock ms at the end of a job, CPU seconds it took) */
    val samples = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Double)]())
    private val bean = ManagementFactory.getThreadMXBean
    private val ringInts = 1 << 22
    @volatile private var sink = 0L

    private def compute(seed: Long): Long = {
      val n = 100000
      val arr = new Array[Long](n)
      var x = seed
      var i = 0
      while (i < n) {
        x = x * 6364136223846793005L + 1442695040888963407L; arr(i) = x >>> 20; i += 1
      }
      java.util.Arrays.sort(arr)
      val counts = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      i = 0
      while (i < n) { counts.merge(arr(i) % 5003, 1L, (a, b) => a + b); i += 1 }
      counts.size.toLong + arr(n / 2)
    }

    /** One cycle through every slot (Sattolo's shuffle). */
    private lazy val ring = {
      val b = java.nio.ByteBuffer.allocateDirect(4 * ringInts)
      (0 until ringInts).foreach(i => b.putInt(4 * i, i))
      val r = new java.util.Random(7)
      for (i <- ringInts - 1 until 0 by -1) {
        val j = r.nextInt(i)
        val t = b.getInt(4 * i); b.putInt(4 * i, b.getInt(4 * j)); b.putInt(4 * j, t)
      }
      b
    }

    private def chase(steps: Int): Int = {
      var p = 0
      var k = 0
      while (k < steps) { p = ring.getInt(4 * p); k += 1 }
      p
    }

    def start(): Unit = {
      val t = new Thread(() => {
        var k = 0L
        while (true) {
          val c0 = bean.getCurrentThreadCpuTime
          sink += compute(k) + chase(100000) // kept, so the JIT cannot drop the job
          samples.add((System.currentTimeMillis(), (bean.getCurrentThreadCpuTime - c0) / 1e9))
          k += 1
          Thread.sleep(350)
        }
      }, "perfbench-speedometer")
      t.setDaemon(true)
      t.start()
    }
  }

  /** CPU seconds the JIT compiler threads have used. They are left out of
    * the window's CPU: seconds after start they still use about half of
    * it, compiling the engine rather than running it. The launcher keeps
    * every compiler thread alive (-XX:-UseDynamicNumberOfCompilerThreads),
    * so none takes its time with it when it exits. */
  private def jitCpuS(): Double =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val st = new String(Files.readAllBytes(new File(t, "stat").toPath), UTF_8)
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        if (!comm.matches("C\\d CompilerThre.*")) 0L
        else {
          val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong // utime + stime, in clock ticks
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum / 100.0 // USER_HZ

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private[perfbench] def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()

  private[perfbench] def dirFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirFiles).sum
    else 1L

  /** Spark job, task and streaming spans, keyed by operation id through
    * the job group each client thread sets before its call. */
  final class TraceListener extends SparkListener {
    final class Acc {
      var jobs, stages, tasks = 0L
      var runMs, cpuNs, gcMs, schedMs, shufW, shufR, shufRec, spill, peakMem = 0L
      var firstJobMs = Long.MaxValue
      val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
      def add(o: Acc): Unit = {
        jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
        cpuNs += o.cpuNs; gcMs += o.gcMs; schedMs += o.schedMs; shufW += o.shufW
        shufR += o.shufR; shufRec += o.shufRec; spill += o.spill
        peakMem = math.max(peakMem, o.peakMem); jobSpans ++= o.jobSpans
      }
    }
    private val accs = new ConcurrentHashMap[String, Acc]()
    private val stageOp = new ConcurrentHashMap[Int, String]()
    private val jobOp = new ConcurrentHashMap[Int, (String, Long)]()
    private val progress = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.streaming.StreamingQueryProgress]())
    private def acc(op: String) = accs.computeIfAbsent(op, _ => new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // a streaming query's micro-batch jobs carry the query's run id as
      // their group; they are matched to the operation that ran the
      // query by time, in opFields
      val props = Option(e.properties)
      val g0 = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val g = if (props.exists(_.getProperty("sql.streaming.queryId") != null))
        s"stream:$g0" else g0
      jobOp.put(e.jobId, (g, e.time))
      e.stageIds.foreach(s => stageOp.put(s, g))
      val a = acc(g)
      a.synchronized {
        a.jobs += 1; a.stages += e.stageIds.size
        a.firstJobMs = math.min(a.firstJobMs, e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOp.get(e.jobId)).foreach { case (g, t) =>
        val a = acc(g); a.synchronized { a.jobSpans += ((t, e.time)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = Option(stageOp.get(e.stageId)).getOrElse("")
      val m = e.taskMetrics
      val info = e.taskInfo
      val a = acc(g)
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shufW += m.shuffleWriteMetrics.bytesWritten
          a.shufR += m.shuffleReadMetrics.totalBytesRead
          a.shufRec += m.shuffleReadMetrics.recordsRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
          a.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => progress.add(p.progress): Unit
      case _ =>
    }

    /** Per-operation fields: job cost and the entry/plan/exec split. */
    def opFields(o: OpRec, n: ObjectNode): Unit = {
      val a = new Acc
      Option(accs.get(o.id)).foreach(a.add)
      if (o.stmt.startsWith("key:stream_"))
        accs.asScala.foreach { case (k, s) =>
          if (k.startsWith("stream:") && s.firstJobMs >= o.t0Ms && s.firstJobMs <= o.endMs)
            a.add(s)
        }
      n.put("jobs", a.jobs); n.put("stages", a.stages); n.put("tasks", a.tasks)
      n.put("task_run_ms", a.runMs); n.put("task_cpu_ms", a.cpuNs / 1e6)
      n.put("gc_ms", a.gcMs); n.put("sched_delay_ms", a.schedMs)
      n.put("shuffle_write_bytes", a.shufW); n.put("shuffle_read_bytes", a.shufR)
      n.put("shuffle_records", a.shufRec); n.put("spill_bytes", a.spill)
      n.put("peak_exec_mem_bytes", a.peakMem)
      val entryEnd = o.t0Ms + o.entryMs.toLong
      n.put("eager_jobs", a.jobSpans.count(_._1 <= entryEnd))
      // wall time covered by no plan phase and no job span
      val phaseSpans = (0 until o.plan.getOrElse("phase_spans", 0.0).toInt).map { k =>
        (o.plan(s"phase${k}_a").toLong, o.plan(s"phase${k}_b").toLong)
      }
      val covered = union((a.jobSpans ++ phaseSpans).toSeq, o.t0Ms, o.endMs)
      n.put("driver_gap_ms", math.max(0.0, o.wallMs - covered))
      val lastJob = a.jobSpans.map(_._2).maxOption
      n.put("after_last_job_ms", lastJob.map(j => math.max(0L, o.endMs - j)).getOrElse(0L))
      // self times, each measured on its own: plan = the tracker phases
      // inside the operation; entry = the call less the phases inside it;
      // exec = job spans during collect() outside any phase. Driver time in
      // collect() that is neither (result conversion, gaps between jobs)
      // is charged to no layer, so the three need not sum to the wall time.
      val phaseIn = union(phaseSpans, o.t0Ms, o.endMs)
      val phaseEntry = union(phaseSpans, o.t0Ms, entryEnd)
      val phaseCollect = union(phaseSpans, entryEnd, o.endMs)
      n.put("entry_self_ms", math.max(0.0, o.entryMs - phaseEntry))
      n.put("plan_self_ms", phaseIn)
      n.put("exec_self_ms",
        union((a.jobSpans ++ phaseSpans).toSeq, entryEnd, o.endMs) - phaseCollect)
    }

    private def union(spans: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
      val clipped = spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total, curA, curB = 0L
      var open = false
      clipped.foreach { case (a, b) =>
        if (!open) { curA = a; curB = b; open = true }
        else if (a <= curB) curB = math.max(curB, b)
        else { total += curB - curA; curA = a; curB = b }
      }
      if (open) total += curB - curA
      total.toDouble
    }

    /** Workload-level fields: unattributed jobs and streaming progress. */
    def fill(summary: ObjectNode, ops: Seq[OpRec], cpus: Int, windowS: Double): Unit = {
      val ids = ops.map(_.id).toSet
      val t0 = ops.map(_.t0Ms).minOption.getOrElse(0L)
      val inWindow = accs.asScala.filter { case (k, a) =>
        ids(k) || (k.startsWith("stream:") && a.firstJobMs >= t0)
      }
      val taskMs = inWindow.values.map(_.runMs).sum
      summary.put("task_run_ms_total", taskMs)
      summary.put("core_util", taskMs / 1000.0 / (windowS * cpus))
      val ps = progress.asScala.toSeq
      val st = summary.putObject("streaming")
      def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      st.put("batches", ps.size)
      st.put("batch_ms", ps.map(dur(_, "triggerExecution")).sum)
      st.put("add_batch_ms", ps.map(dur(_, "addBatch")).sum)
      st.put("wal_commit_ms", ps.map(dur(_, "walCommit")).sum)
      st.put("input_rows", ps.map(_.numInputRows).sum)
      st.put("state_rows", ps.map(_.stateOperators.map(_.numRowsTotal).sum).sum)
      st.put("state_commit_ms", ps.map(_.stateOperators.map(_.commitTimeMs).sum).sum)
      st.put("state_mem_bytes",
        ps.map(_.stateOperators.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L))
    }
  }
}
