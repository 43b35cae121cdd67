package graft

/** Ad-hoc plan/perf probe (not part of the driver contract). */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val what = if (args.length > 1) args(1) else "plans"
    val spark = GraftSession.local(GraftSession.cpus)
    if (what == "plans") {
      val qs = if (args.length > 2) args(2).split(",").toSeq
        else Seq("q3_shipping", "q1_agg", "w1_window_rank", "s4_index_scan")
      for (q <- qs) {
        println(s"\n===== $q =====")
        val df = SparkEntry.queries(q)(spark, dir)
        val plan = df.queryExecution.executedPlan.toString
        println(plan.linesIterator.take(30).mkString("\n"))
      }
    }
    if (what == "fplans") {
      // Probe <dir> fplans <q1,q2,...> <outdir> <suffix> — write
      // explain("formatted") of each entry to <outdir>/<q>_<suffix>.txt
      val qs = args(2).split(",").toSeq
      val outDir = args(3)
      val suffix = if (args.length > 4) args(4) else "plan"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      for (q <- qs) {
        val df = SparkEntry.queries(q)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"), txt)
        println(s"[fplans] wrote $outDir/${q}_$suffix.txt")
      }
    }
    if (what == "time") {
      // Probe <dir> time <query,query,...> [reps] — per-run seconds
      val names = args(2).split(",").toSeq
      val reps = if (args.length > 3) args(3).toInt else 3
      for (q <- names; r <- 1 to reps) {
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir).count()
        println(f"[time] $q run$r ${(System.nanoTime() - t0) / 1e9}%.2f s")
        spark.sharedState.cacheManager.clearCache()
      }
    }
    if (what == "jobs") {
      // Probe <dir> jobs <query,query,...> [reps] — per-Spark-job wall
      // times inside each run (shows the scheduling-floor breakdown)
      import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
      val names = args(2).split(",").toSeq
      val reps = if (args.length > 3) args(3).toInt else 2
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      val lines = java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(js.stageInfos.headOption.map(_.name.take(60)))
            .getOrElse("?")
          starts.put(js.jobId, (System.nanoTime(), desc.take(80)))
        }
        override def onJobEnd(je: SparkListenerJobEnd): Unit = {
          val s = starts.remove(je.jobId)
          if (s != null) lines.add(
            f"    job ${je.jobId}%3d ${(System.nanoTime() - s._1) / 1e9}%6.2f s  ${s._2}")
          ()
        }
      })
      for (q <- names; r <- 1 to reps) {
        lines.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir).count()
        val el = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        Thread.sleep(200) // let listener events drain
        println(f"[jobs] $q run$r total $el%.2f s, ${lines.size} jobs")
        lines.forEach(l => println(l))
      }
    }
    spark.stop()
  }
}
