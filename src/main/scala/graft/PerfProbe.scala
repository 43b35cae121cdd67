package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Diagnostic harness for the intra-session throughput collapse: runs a
  * sequence of registered queries in ONE warm session and prints, per run,
  * the wall time alongside where the time actually went —
  *
  *   - task-level sums from a SparkListener (executorRunTime, executorCpuTime,
  *     jvmGCTime, deserialize, resultSerialize): separates "executors were
  *     slow" from "the driver sat planning/compiling",
  *   - process-level deltas (GC collections/time, JIT compilation time, code
  *     cache + heap usage) from the management beans,
  *   - a watchdog that dumps all thread stacks if a run exceeds
  *     `GRAFT_PROBE_STALL_SEC` (default 30) — catching the 6-40x outlier
  *     in the act instead of post-hoc guessing.
  *
  * Usage: runMain graft.PerfProbe <query> [<query> ...]   (name xN repeats:
  * "dedup_minhash_lsh x6"). Not part of the driver contract; a tool.
  */
object PerfProbe {

  private class TaskMetricsListener extends SparkListener {
    val runTime = new AtomicLong(0)
    val cpuTime = new AtomicLong(0)
    val gcTime = new AtomicLong(0)
    val deserTime = new AtomicLong(0)
    val tasks = new AtomicLong(0)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        runTime.addAndGet(m.executorRunTime)
        cpuTime.addAndGet(m.executorCpuTime / 1000000L)
        gcTime.addAndGet(m.jvmGCTime)
        deserTime.addAndGet(m.executorDeserializeTime)
        tasks.incrementAndGet()
      }
    }
    def snapshot: Map[String, Long] = Map(
      "taskRunMs" -> runTime.get, "taskCpuMs" -> cpuTime.get,
      "taskGcMs" -> gcTime.get, "taskDeserMs" -> deserTime.get,
      "tasks" -> tasks.get)
  }

  private def beanSnapshot(): Map[String, Long] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val comp = ManagementFactory.getCompilationMXBean
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val codeCache = pools.filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    Map(
      "gcCount" -> gcs.map(_.getCollectionCount).sum,
      "gcTimeMs" -> gcs.map(_.getCollectionTime).sum,
      "jitMs" -> comp.getTotalCompilationTime,
      "codeCacheMb" -> codeCache / (1024 * 1024),
      "heapUsedMb" -> heap.getUsed / (1024 * 1024))
  }

  private def dumpStacks(tag: String): Unit = {
    val sb = new StringBuilder(s"==== STACK DUMP ($tag) ====\n")
    // group identical stacks: at local[32] most executor threads share one
    val groups = mutable.Map.empty[String, mutable.ListBuffer[String]]
    Thread.getAllStackTraces.asScala.foreach { case (t, frames) =>
      val top = frames.take(14).mkString("\n    ")
      groups.getOrElseUpdate(top, mutable.ListBuffer.empty) +=
        s"${t.getName}(${t.getState})"
    }
    groups.toSeq.sortBy(-_._2.size).take(12).foreach { case (stack, ts) =>
      sb.append(s"-- ${ts.size} threads: ${ts.take(4).mkString(", ")}\n    $stack\n")
    }
    System.err.println(sb.result())
  }

  def main(args: Array[String]): Unit = {
    val stallSec = sys.env.getOrElse("GRAFT_PROBE_STALL_SEC", "30").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // "name x3" → name, name, name
    val plan: Seq[String] = {
      val raw = if (args.nonEmpty) args.toSeq else Seq("dedup_minhash_lsh", "x6")
      val out = mutable.ListBuffer.empty[String]
      raw.foreach {
        case rep if rep.matches("x\\d+") && out.nonEmpty =>
          val n = rep.drop(1).toInt; val last = out.last
          (1 until n).foreach(_ => out += last)
        case q => out += q
      }
      out.toSeq
    }
    val spark = GraftSession.local(GraftSession.cpus)
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)

    plan.zipWithIndex.foreach { case (name, i) =>
      val before = beanSnapshot(); val beforeTasks = listener.snapshot
      val t0 = System.nanoTime()
      val done = new AtomicBoolean(false)
      val watchdog = new Thread(() => {
        var dumped = 0
        while (!done.get() && dumped < 3) {
          Thread.sleep(2000)
          val elapsed = (System.nanoTime() - t0) / 1e9
          if (!done.get() && elapsed > stallSec * (dumped + 1)) {
            dumpStacks(f"$name run=$i elapsed=$elapsed%.1fs")
            System.err.println(s"  beans now: ${beanSnapshot()}")
            dumped += 1
          }
        }
      }, s"probe-watchdog-$i")
      watchdog.setDaemon(true); watchdog.start()
      val rows =
        try SparkEntry.queries(name)(spark, sfDir).count()
        catch { case e: Throwable => System.err.println(s"$name FAILED: $e"); -1L }
      done.set(true)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      spark.sharedState.cacheManager.clearCache()
      val after = beanSnapshot(); val afterTasks = listener.snapshot
      def d(k: String) = after(k) - before(k)
      def dt(k: String) = afterTasks(k) - beforeTasks(k)
      println(f"[probe] #$i%-2d $name%-24s wall=${wallMs / 1000.0}%8.2fs rows=$rows%-8d " +
        f"taskRun=${dt("taskRunMs") / 1000.0}%8.1fs taskCpu=${dt("taskCpuMs") / 1000.0}%8.1fs " +
        f"taskGc=${dt("taskGcMs") / 1000.0}%6.1fs tasks=${dt("tasks")}%-5d " +
        f"gc=${d("gcCount")}%3d/${d("gcTimeMs") / 1000.0}%6.2fs jit=${d("jitMs") / 1000.0}%7.2fs " +
        f"codeCache=${after("codeCacheMb")}%4dMB heap=${after("heapUsedMb")}%6dMB")
    }
    spark.stop()
  }
}
