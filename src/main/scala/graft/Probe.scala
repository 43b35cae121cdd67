package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.Bridge

/** Ad-hoc plan/perf probe (not part of the driver contract):
  *
  *   - `Probe <dir> plans [q1,q2,...]` prints physical plans;
  *   - `Probe <dir> fplans <q1,...> <outdir> <suffix>` writes each entry's
  *     formatted plan to `<outdir>/<q>_<suffix>.txt`, with expression ids,
  *     lambda identities and temp-dir names replaced by fixed tokens, so
  *     two JVMs' dumps of one entry diff clean;
  *   - `Probe <dir> time <q1,...> [reps]` prints each run's wall seconds
  *     with its tasks' CPU ms (the steal-robust number), GC ms and count;
  *   - `Probe <dir> jobs <q1,...> [reps]` adds each run's Spark jobs.
  *
  * A thread-stack view of a stalled run comes from `jstack <pid>`. */
object Probe {

  /** Task CPU/GC time and task count summed over every finished task, and
    * the wall time of each finished job. */
  private final class Meter extends SparkListener {
    val cpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val tasks = new AtomicLong
    val jobs = new ConcurrentLinkedQueue[String]
    private val started = new ConcurrentHashMap[Int, (Long, String)]

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(t.taskMetrics).foreach { m =>
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        tasks.incrementAndGet()
      }
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(js.stageInfos.headOption.map(_.name))
        .getOrElse("?")
      started.put(js.jobId, (System.nanoTime(), desc.take(80)))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(started.remove(je.jobId)).foreach { case (t0, desc) =>
        jobs.add(f"    job ${je.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%6.2f s  $desc")
      }
  }

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
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      for (q <- qs) {
        val df = SparkEntry.queries(q)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"), normalizePlan(txt))
        println(s"[fplans] wrote $outDir/${q}_$suffix.txt")
      }
    }
    if (what == "time" || what == "jobs") {
      val names = args(2).split(",").toSeq
      val reps = if (args.length > 3) args(3).toInt else if (what == "time") 3 else 2
      val meter = new Meter
      val sc = spark.sparkContext
      sc.addSparkListener(meter)
      for (q <- names; r <- 1 to reps) {
        Bridge.drainListeners(sc)
        meter.jobs.clear()
        val (cpu0, gc0, tasks0) = (meter.cpuNs.get, meter.gcMs.get, meter.tasks.get)
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        Bridge.drainListeners(sc)
        println(f"[$what] $q run$r $wall%.2f s  cpu ${(meter.cpuNs.get - cpu0) / 1000000}%d ms" +
          f"  gc ${meter.gcMs.get - gc0}%d ms  tasks ${meter.tasks.get - tasks0}%d" +
          (if (what == "jobs") s"  jobs ${meter.jobs.size}" else ""))
        if (what == "jobs") meter.jobs.forEach(l => println(l))
      }
    }
    spark.stop()
  }
}
