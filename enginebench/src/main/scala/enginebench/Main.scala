package enginebench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  * {{{
  *   Main --workload query_indexed|write_feed --seed N
  *        --seconds S --trace 0|1 --work DIR
  * }}}
  * With `--trace 0` the last stdout line carries the end-to-end metrics,
  * with `--trace 1` the per-layer ones. The line before it is the run
  * record: seed, cores, steal share, per-type operation counts and
  * median wall and CPU times per operation type.
  *
  * The end-to-end times, set-up included, are CPU times (the calling
  * thread's plus the executor tasks'): on hosts whose CPU steal swings
  * between runs, wall times of identical runs spread wider than any useful
  * bound. Wall times are reported by the traced run (`wall.*`) and in the
  * record.
  *
  * Exit codes: 0 with a result line; 3 when the run's self-check fails (no
  * result line); 6 when an output differed from the model (the result line
  * is printed, with `"correct":false`). */
object Main {
  val Workloads = Seq("query_indexed", "write_feed")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val cfg = Config(workload, opts("seed").toLong, opts("seconds").toInt,
      opts.getOrElse("trace", "0") == "1", Path.of(opts("work")).toAbsolutePath,
      Runtime.getRuntime.availableProcessors)
    Files.createDirectories(cfg.work)

    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"enginebench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val code =
      try report(cfg, new Bench(spark, cfg, rec), rec)
      finally spark.stop()
    sys.exit(code)
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  private def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p / 100 * n).toInt)

  /** Nearest-rank percentile; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(rank(xs.size, p) - 1)

  /** The tail sample of a run of `rounds` rounds: the one with one sample
    * per round beyond it, so that it is the same percentile of the
    * round's operation mix whatever the number of rounds; 0 when there
    * are not that many samples. */
  def tail(xs: Seq[Double], rounds: Int): Double =
    if (xs.size <= rounds) 0.0 else xs.sorted.apply(xs.size - 1 - rounds)

  /** Whether the tail sample ranks above the median's rank, i.e. a round
    * has enough operations for a tail. */
  def tailAboveMedian(n: Int, rounds: Int): Boolean = n - rounds > rank(n, 50)

  private def report(cfg: Config, bench: Bench, rec: Recorder): Int = {
    val rounds = bench.run()
    val (jvm0, jvm1) = bench.jvm

    val all = bench.latencies.values.flatten.toSeq
    val ops = all.size.toDouble
    val kinds = bench.latencies.map { case (k, v) => k -> v.toSeq }.toMap
    def p50(kind: String) = median(kinds.getOrElse(kind, Nil))
    val windowWork = {
      val t = new Work
      bench.window.values.foreach(t += _)
      t
    }
    def per(x: Double, n: Double) = if (n > 0) x / n else 0.0

    val cpu = bench.operationCpuMs
    val allCpu = cpu.values.flatten.toSeq
    def cpu50(kind: String) = median(cpu.getOrElse(kind, Nil))
    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", median(bench.setupCpuSeconds), "s"),
      ("op_cpu_p50_ms", median(allCpu), "ms"),
      ("op_cpu_tail_ms", tail(allCpu, rounds), "ms"),
      ("query_cpu_p50_ms", cpu50("query"), "ms"),
      ("page_cpu_p50_ms", cpu50("page"), "ms"),
      ("get_cpu_p50_ms", cpu50("get"), "ms"),
      ("task_cpu_ms_per_op", per(windowWork.cpuMs, ops), "ms"),
      ("cache_peak_mb", rec.cachePeakBytes / 1e6, "MB"),
      ("disk_bytes_per_input_byte", per(bench.counts("disk.bytes"), bench.inputBytes.toDouble), "ratio"))

    val metrics = if (cfg.trace) Layers.metrics(bench, rec, ops, rounds, jvm1, jvm0) else endToEnd
    val attempted = bench.attempted.values.sum
    val failed = bench.failed.values.sum
    val correct = bench.mismatches.isEmpty
    bench.mismatches.take(20).foreach(m => System.err.println(s"mismatch: $m"))

    val record = Json.render(Map(
      "workload" -> cfg.workload, "seed" -> BigDecimal(cfg.seed), "cores" -> BigDecimal(cfg.cores),
      "seconds" -> BigDecimal(cfg.seconds), "trace" -> BigDecimal(if (cfg.trace) 1 else 0),
      "rounds" -> BigDecimal(rounds),
      "steal_share" -> Steal.share(bench.steal._1, bench.steal._2).map(BigDecimal(_)).orNull,
      "samples" -> BigDecimal(all.size),
      "setup_wall_runs_s" -> bench.setupSeconds.map(s => f"$s%.3f").mkString(" "),
      "setup_cpu_runs_s" -> bench.setupCpuSeconds.map(s => f"$s%.3f").mkString(" "),
      "attempted_by_type" -> bench.attempted.map { case (k, v) => s"$k=$v" }.mkString(" "),
      "failed_by_type" -> bench.failed.map { case (k, v) => s"$k=$v" }.mkString(" "),
      "p50_ms_by_type" -> kinds.map { case (k, v) => f"$k=${median(v)}%.1f" }.mkString(" "),
      "cpu_p50_ms_by_type" -> cpu.map { case (k, v) => f"$k=${median(v)}%.1f" }.mkString(" "),
      "mismatches" -> BigDecimal(bench.mismatches.size)))
    println(s"""{"record":$record}""")

    val bad = if (cfg.trace) Nil else endToEnd.collect { case (n, v, _) if !(v > 0) => n }
    val noTail = !tailAboveMedian(allCpu.size, rounds)
    if (bad.nonEmpty || noTail) {
      System.err.println(s"self-check failed: non-positive ${bad.mkString(",")}; " +
        s"${allCpu.size} samples, too few for a tail above the median: $noTail")
      return 3
    }
    val fields = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${if (v.isNaN || v.isInfinite) "0" else v.toString},"unit":"$u"}"""
    }
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${fields.mkString(",")}}}""")
    if (correct) 0 else 6
  }
}

/** Per-layer metrics of a traced run, from the recorder's (span, file)
  * totals and the samples taken around calls into each module. */
object Layers {
  def metrics(b: Bench, rec: Recorder, ops: Double, rounds: Int, jvm1: JvmSample, jvm0: JvmSample)
      : Seq[(String, Double, String)] = {
    def per(x: Double, n: Double) = if (n > 0) x / n else 0.0
    def med(name: String) = Main.percentile(b.samples.getOrElse(name, Nil).toSeq, 50)
    def n(name: String) = b.samples.get(name).map(_.size.toDouble).getOrElse(0.0)
    def layer(l: String): Work = {
      val t = new Work
      b.window.foreach { case ((span, site), w) => if (Spans.layer(span, site) == l) t += w }
      t
    }
    val total = new Work
    b.window.values.foreach(total += _)
    val unattributed = layer("unattributed")
    val primaryReads = n("query.call_ms") + n("page.call_ms")
    val served = b.counts("planner.indexed")
    val batches = n("feed.batch_ms")
    val gets = n("engine.get_ms")
    val fold = layer("engine.fold")
    val revision = layer("engine.revision")
    val scan = layer("index.scan")
    val guardJobs = b.window.collect {
      case ((span, site), w) if Set("q.call", "p.call")(Spans.kind(span)) &&
          Spans.source(span).contains("primary") && site.endsWith("HyperStorage.scala") => w.jobs
    }.sum
    val wall = b.latencies.values.flatten.toSeq
    def wall50(kind: String) = Main.percentile(b.latencies.getOrElse(kind, Nil).toSeq, 50)
    Seq(
      ("wall.ops_per_s", per(ops, wall.sum / 1000), "1/s"),
      ("wall.op_p50_ms", Main.percentile(wall, 50), "ms"),
      ("wall.op_tail_ms", Main.tail(wall, rounds), "ms"),
      ("wall.query_p50_ms", wall50("query"), "ms"),
      ("wall.page_p50_ms", wall50("page"), "ms"),
      ("wall.get_p50_ms", wall50("get"), "ms"),
      ("wall.setup_s", Main.percentile(b.setupSeconds, 50), "s"),
      ("hql.parse_us", med("hql.parse_us"), "us"),
      ("hql.translate_us", med("hql.translate_us"), "us"),
      ("engine.query_call_ms", med("query.call_ms"), "ms"),
      ("engine.fetch_ms", med("query.fetch_ms"), "ms"),
      ("engine.fold_cpu_ms", per(fold.cpuMs, primaryReads), "ms"),
      ("engine.fold_shuffle_bytes", per(fold.shuffleWrite.toDouble, primaryReads), "bytes"),
      ("engine.rows_scanned_per_returned",
        per(b.counts("engine.rows_scanned"), b.counts("engine.rows_returned")), "ratio"),
      ("engine.guard_jobs", per(guardJobs.toDouble, primaryReads), "count"),
      ("engine.get_ms", med("engine.get_ms"), "ms"),
      ("engine.get_jobs", per(layer("engine.get").jobs.toDouble, gets), "count"),
      ("engine.revision_ms", per(revision.jobMs.toDouble, served), "ms"),
      ("engine.revision_cpu_ms", per(revision.cpuMs, served), "ms"),
      ("engine.apply_ms", per(layer("engine.apply").jobMs.toDouble, batches), "ms"),
      ("engine.apply_shuffle_bytes", per(layer("engine.apply").shuffleWrite.toDouble, batches), "bytes"),
      ("store.open_ms", med("store.open_ms"), "ms"),
      ("store.write_ms", per(layer("store.write").jobMs.toDouble, batches), "ms"),
      ("store.compact_ms", med("store.compact_ms"), "ms"),
      ("store.data_files", b.counts("store.data_files"), "count"),
      ("store.bytes", b.counts("store.bytes"), "bytes"),
      ("planner.plan_us", med("planner.plan_us"), "us"),
      ("planner.index_share", per(served, b.counts("planner.ops")), "ratio"),
      ("index.scan_ms", per(scan.jobMs.toDouble, served), "ms"),
      ("index.scan_cpu_ms", per(scan.cpuMs, served), "ms"),
      ("index.scan_input_bytes", per(scan.inputBytes.toDouble, served), "bytes"),
      ("index.rows_scanned_per_returned",
        per(b.counts("index.rows_scanned"), b.counts("index.rows_returned")), "ratio"),
      ("index.build_ms", med("index.build_ms"), "ms"),
      ("index.maintain_ms", per(layer("index.maintain").jobMs.toDouble, batches), "ms"),
      ("index.files_written", per(b.counts("index.files_written"), batches), "count"),
      ("ledger.write_ms", per(layer("ledger.write").jobMs.toDouble, batches), "ms"),
      ("feed.publish_ms", per(layer("feed.publish").jobMs.toDouble, batches), "ms"),
      ("feed.events", per(b.counts("feed.events"), batches), "count"),
      ("feed.batch_p50_ms", med("feed.batch_ms"), "ms"),
      ("feed.write_ops_per_s", per(b.batchWrites.toDouble, b.samples.get("feed.batch_ms").map(_.sum).getOrElse(0.0) / 1000), "1/s"),
      ("jobs_per_op", per(total.jobs.toDouble, ops), "count"),
      ("tasks_per_op", per(total.tasks.toDouble, ops), "count"),
      ("jvm.gc_ms_per_op", per((jvm1.gcMs - jvm0.gcMs).toDouble, ops), "ms"),
      ("jvm.jit_ms_per_op", per((jvm1.jitMs - jvm0.jitMs).toDouble, ops), "ms"),
      ("jvm.process_cpu_ms_per_op", per(jvm1.cpuMs - jvm0.cpuMs, ops), "ms"),
      ("spill_bytes", total.spill.toDouble, "bytes"),
      ("cache.blocks_peak", rec.cachePeakBlocks.toDouble, "count"),
      ("trace.attributed_share", 1.0 - per(unattributed.runMs.toDouble, total.runMs.toDouble), "ratio"))
  }
}
