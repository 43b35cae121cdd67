package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Ad-hoc plan/perf probe (not part of the driver contract):
  *
  *   - `Probe <dir> plans [q1,q2,...]` prints physical plans;
  *   - `Probe <dir> fplans <q1,...> <outdir> <suffix>` writes each entry's
  *     formatted plan to `<outdir>/<q>_<suffix>.txt`, with expression ids,
  *     lambda identities and temp-dir names replaced by fixed tokens, so
  *     two JVMs' dumps of one entry diff clean;
  *   - `Probe <dir> time <q1,...> [reps]` prints each run's wall seconds,
  *     the seconds of it `prepared` spent building memos, its tasks' CPU
  *     ms (the steal-robust number), GC ms and count;
  *   - `Probe <dir> jobs <q1,...> [reps]` adds each run's Spark jobs.
  *
  * A thread-stack view of a stalled run comes from `jstack <pid>`. */
object Probe {

  /** Fixed tokens for what differs between two JVMs' plans of one entry:
    * expression and exchange ids (global counters), lambda identities, and
    * the random names of the driver's temp dirs and index stores. */
  private def normalizePlan(plan: String): String = plan
    .replaceAll("#\\d+", "#N")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("\\$\\$Lambda(\\$\\d+)?/0x\\p{XDigit}+@\\p{XDigit}+", "\\$\\$Lambda")
    .replaceAll("\\p{XDigit}{8}(-\\p{XDigit}{4}){3}-\\p{XDigit}{12}", "UUID")
    .replaceAll("index-store-\\d+", "index-store-N")

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
      val qs = args(2).split(",").toSeq
      val outDir = args(3)
      val suffix = if (args.length > 4) args(4) else "plan"
      Files.createDirectories(Paths.get(outDir))
      for (q <- qs) {
        val df = SparkEntry.queries(q)(spark, dir)
        val txt = df.queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${q}_$suffix.txt"), normalizePlan(txt))
        println(s"[fplans] wrote $outDir/${q}_$suffix.txt")
      }
    }
    if (what == "time" || what == "jobs") {
      val reps = if (args.length > 3) args(3).toInt else if (what == "time") 3 else 2
      val runner = new Runner(spark)
      for (q <- args(2).split(",").toSeq; r <- 1 to reps) {
        val e = SparkEntry.entries.find(_.name == q).getOrElse(sys.error(s"no entry named $q"))
        val run = runner.run(e, dir)(_.count())
        run.failure.foreach(throw _)
        println(f"[$what] $q run$r ${run.wallS}%.2f s  setup ${run.setupS}%.2f s" +
          f"  cpu ${run.cpuMs}%d ms  gc ${run.gcMs}%d ms  tasks ${run.tasks}%d" +
          (if (what == "jobs") s"  jobs ${run.jobs.size}" else ""))
        if (what == "jobs") run.jobs.foreach(println)
      }
    }
    spark.stop()
  }
}
