package enginebench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Totals of the Spark work charged to one key. */
final class Work {
  var jobs = 0L
  var jobMs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuMs = 0.0
  var shuffleWrite = 0L
  var inputBytes = 0L
  var spill = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; jobMs += o.jobMs; tasks += o.tasks; runMs += o.runMs
    cpuMs += o.cpuMs; shuffleWrite += o.shuffleWrite
    inputBytes += o.inputBytes; spill += o.spill
  }
}

/** Charges every Spark job and task to the span the benchmark set around
  * the call that launched it (the `Spans.Key` local property, which AQE's
  * stage jobs inherit) and to the program file that launched it, read
  * from the SQL execution's call site (`collect at HyperStorage.scala:311`
  * becomes `collect at HyperStorage.scala`; the line is dropped so edits
  * do not move the attribution). Jobs without an SQL execution use their
  * first stage's call site. It also follows the cached RDD blocks, whose
  * peak is an end-to-end metric.
  *
  * Everything is kept in memory and read once the listener bus is empty. */
final class Recorder extends SparkListener {
  private final case class Job(span: String, site: String, start: Long)

  private val execSites = mutable.Map.empty[Long, String]
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** (span, site) → work. */
  val work: mutable.Map[(String, String), Work] = mutable.Map.empty

  /** Cached RDD blocks, per RDD, of the RDDs not yet unpersisted. An
    * unpersist counts at once, not when its blocks are dropped (that
    * happens asynchronously and would let one query's cache overlap the
    * next). */
  private val cachedBlocks = mutable.Map.empty[Int, mutable.Map[String, Long]]
  private val unpersisted = mutable.Set.empty[Int]
  private var cachedBytes = 0L
  var cachePeakBytes = 0L
  var cachePeakBlocks = 0L

  /** Start a new window: clear the work and restart the cache peaks. */
  def clear(): Unit = synchronized {
    work.clear()
    cachePeakBytes = cachedBytes
    cachePeakBlocks = cachedBlocks.values.map(_.size.toLong).sum
  }

  private def site(s: String): String =
    Option(s).map(_.replaceAll(":\\d+", "").trim).filter(_.nonEmpty).getOrElse("?")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSites(s.executionId) = site(s.description)
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Spans.Key))).getOrElse("-")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val where = exec.flatMap(execSites.get)
      .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(s => site(s.name)).getOrElse("?"))
    jobs(e.jobId) = Job(span, where, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      val w = work.getOrElseUpdate((j.span, j.site), new Work)
      w.jobs += 1
      w.jobMs += math.max(0L, e.time - j.start)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.filterNot(b => unpersisted(b.rddId)).foreach { b =>
      val blocks = cachedBlocks.getOrElseUpdate(b.rddId, mutable.Map.empty)
      cachedBytes -= blocks.getOrElse(b.name, 0L)
      val size = info.memSize + info.diskSize
      if (info.storageLevel.isValid && size > 0) blocks(b.name) = size else blocks.remove(b.name)
      cachedBytes += blocks.getOrElse(b.name, 0L)
      cachePeakBytes = math.max(cachePeakBytes, cachedBytes)
      cachePeakBlocks = math.max(cachePeakBlocks, cachedBlocks.values.map(_.size.toLong).sum)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    unpersisted += e.rddId
    cachedBlocks.remove(e.rddId).foreach(b => cachedBytes -= b.values.sum)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId); m <- Option(e.taskMetrics)) {
      val w = work.getOrElseUpdate((j.span, j.site), new Work)
      w.tasks += 1
      w.runMs += m.executorRunTime
      w.cpuMs += m.executorCpuTime / 1e6
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.inputBytes += m.inputMetrics.bytesRead
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Span names set around each timed call: the span kind, for a planner
  * call the source the planner picked, and the operation's id
  * (`q.call@by_price#17`). */
object Spans {
  val Key = "enginebench.span"

  def within[T](sc: SparkContext, span: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, span)
    try body finally sc.setLocalProperty(Key, prev)
  }

  private val Parts = """([^@#]*)(?:@([^#]*))?(?:#(\d+))?""".r

  /** Span kind (`q.call`), picked source and operation id of a span name
    * `kind[@source][#op]`. */
  def kind(span: String): String = span match { case Parts(k, _, _) => k; case _ => span }
  def source(span: String): Option[String] = span match {
    case Parts(_, s, _) => Option(s)
    case _ => None
  }
  def op(span: String): Option[Int] = span match {
    case Parts(_, _, id) => Option(id).map(_.toInt)
    case _ => None
  }

  /** The layer a job belongs to, from its span and launching file. */
  def layer(span: String, site: String): String = {
    def in(file: String) = site.endsWith(s" at $file") || site == file
    val served = source(span).exists(_ != "primary")
    kind(span) match {
      case "q.call" | "q.fetch" | "p.call" | "p.fetch" =>
        if (!served) "engine.fold"
        else if (in("HyperStorage.scala")) "engine.revision"
        else "index.scan"
      case "get" => "engine.get"
      case "compact" => "store.compact"
      case "open" => "store.open"
      case "batch" =>
        if (site.startsWith("localCheckpoint at ") && in("FeedPipeline.scala")) "engine.apply"
        else if (in("ContentStore.scala")) "store.write"
        else if (in("IndexManager.scala") || in("IndexStore.scala")) "index.maintain"
        else if (in("FeedPipeline.scala") || in("Ledger.scala")) "ledger.write"
        else if (in("ChangeFeed.scala")) "feed.publish"
        else "unattributed"
      case _ => "unattributed"
    }
  }
}

/** JVM counters read at the edges of the window. */
final case class JvmSample(gcMs: Long, jitMs: Long, cpuMs: Double)

object JvmSample {
  def now(): JvmSample = {
    import scala.jdk.CollectionConverters._
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime)
      .getOrElse(0L)
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
      case _ => 0.0
    }
    JvmSample(gc, jit, cpu)
  }
}

/** Host CPU steal over the window, from the first line of /proc/stat
  * (context for reading the figures, not a metric). */
object Steal {
  def ticks(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        Some((f.take(8).sum, if (f.length > 7) f(7) else 0L))
      } finally src.close()
    } catch { case _: Exception => None }

  def share(from: Option[(Long, Long)], to: Option[(Long, Long)]): Option[Double] =
    for ((t0, s0) <- from; (t1, s1) <- to if t1 > t0) yield (s1 - s0).toDouble / (t1 - t0)
}
