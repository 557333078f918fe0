package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

/** Dev aid: run ONE registered query a few times in a fresh JVM, print
  * each rep's wall time, and every Spark job's wall time + first-stage
  * name for the warm final rep, so "where do the seconds go" is
  * answerable at harness SF (job-count overhead vs real compute — the
  * Spark UI is disabled in this environment). Rep 1 pays the first-touch
  * fixture/memo cost (attributed by the `[graft-memo]` lines), which a
  * full Bench run lands on whichever query runs first. The last stdout
  * line is `{"query":…,"cold":…,"best":…,"reps":…}`.
  *
  * usage: runMain graft.JobProbe <query> [sfDir] [reps]
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProbe <query> [sfDir] [reps]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val q = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))
    val spark = graft.sources.Tables.session()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var record = false
    val lines = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.headOption.map(_.name.take(90)))
          .getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), desc)): Unit
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, desc) =>
          if (record)
            lines.add(f"job ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $desc"): Unit
        }
      }
    })
    val times = (1 to reps).map { i =>
      if (i == reps) record = true // profile only the warm final rep
      lines.clear()
      val t0 = System.nanoTime()
      val n = q(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      System.err.println(f"[job-probe] rep $i: $dt%.3f s ($n rows)")
      dt
    }
    Thread.sleep(300) // let listener drain
    lines.forEach(l => System.err.println("  " + l))
    spark.stop()
    println(f"""{"query":"$name","cold":${times.head}%.3f,"best":${times.min}%.3f,"reps":$reps}""")
  }
}
