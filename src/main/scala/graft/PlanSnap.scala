package graft

/** Dev aid: run one or more registered queries and dump each one's
  * FINAL executed plan (after adaptive execution: columnar transitions,
  * AQE stage rewrites and query-stage prep rules included) into
  * `<outDir>/<query>_<tag>.txt` in one JVM, so the fixtures warm up
  * once. Used to capture the before/after plan evidence committed
  * under plans/rNN/.
  *
  * usage: runMain graft.PlanSnap <tag> <outDir> <sfDir> <q1> [q2 ...]
  * (`all` in place of the names: every registered query)
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanSnap <tag> <outDir> <sfDir> <q1> [q2 ...]")
    val tag = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val sfDir = args(2)
    val names = args.drop(3).toSeq match {
      case Seq("all") => SparkEntry.queries.keys.toSeq.sorted
      case given => given
    }
    java.nio.file.Files.createDirectories(outDir)
    val s = graft.sources.Tables.session()
    names.foreach { name =>
      val out = outDir.resolve(s"${name}_$tag.txt")
      try {
        val df = SparkEntry.queries(name)(s, sfDir)
        df.queryExecution.toRdd.count(): Unit // runs to the final plan
        java.nio.file.Files.write(out,
          df.queryExecution.executedPlan.toString
            .getBytes("UTF-8"))
        System.err.println(s"[plan-snap] wrote $out")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plan-snap] $name FAILED: $e")
      }
      s.catalog.clearCache()
    }
    s.stop()
  }
}
