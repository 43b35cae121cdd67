package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import graft.entries.{Entry, EntryHelpers}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** One entry's run: wall seconds of the body plus its action, its tasks'
  * CPU ms (the steal-robust number), GC ms and count, one line per job,
  * the seconds `prepared` spent building memos, and the failure, if any. */
final case class Run(name: String, wallS: Double, cpuMs: Long, gcMs: Long,
    tasks: Long, jobs: Seq[String], setupS: Double, failure: Option[Throwable])

/** Runs entries on one session for Bench, Verify and Probe. */
final class Runner(spark: SparkSession) {
  private val meter = new Meter
  spark.sparkContext.addSparkListener(meter)

  /** Runs `e` on `dir` and `act` on its result, catching a failure of
    * either into the record. The cache is cleared after every run: entries
    * persist their intermediates and never release them, so a full board
    * in one session would otherwise make late entries pay eviction and
    * memory pressure for blocks they never read. */
  def run(e: Entry, dir: String)(act: DataFrame => Unit): Run = {
    Bridge.drainListeners(spark.sparkContext)
    meter.jobs.clear()
    val (cpu0, gc0, tasks0) = (meter.cpuNs.get, meter.gcMs.get, meter.tasks.get)
    val setup0 = EntryHelpers.setupNanos(spark)
    val t0 = System.nanoTime()
    val failure = try { act(e.run(spark, dir)); None } catch { case x: Throwable => Some(x) }
    val wallS = (System.nanoTime() - t0) / 1e9
    spark.sharedState.cacheManager.clearCache()
    Bridge.drainListeners(spark.sparkContext)
    Run(e.name, wallS, (meter.cpuNs.get - cpu0) / 1000000, meter.gcMs.get - gc0,
      meter.tasks.get - tasks0, meter.jobs.toArray(Array.empty[String]).toSeq,
      (EntryHelpers.setupNanos(spark) - setup0) / 1e9, failure)
  }
}

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
