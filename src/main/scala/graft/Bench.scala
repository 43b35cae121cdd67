package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.VectorMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Driver-run benchmark: EVERY registered query on SPARK_GRAFT_SF_DIR (the
  * full correctness board — a selective headline can silently overstate
  * progress), one JSON line on stdout. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)
    // steady-state warmup: JIT the parquet reader / codegen / shuffle
    // machinery once so the first timed query doesn't absorb JVM startup
    locally {
      import org.apache.spark.sql.functions._
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      n.join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name").count().collect()
    }
    val runner = new Runner(spark)
    def pass(): Seq[Run] = SparkEntry.entries.map { e =>
      val r = runner.run(e, sfDir)(_.count())
      r.failure.foreach(x => System.err.println(s"[bench] ${e.name}: $x"))
      r
    }
    // Two FULL passes, min per query, not back-to-back min-of-2: a query's
    // first run in a warm session can land in a JIT deopt/recompile storm
    // set off by the class loading of the queries before it (measured: same
    // plan, 6-40× wall), and back-to-back samples both land inside it. A
    // full pass between the two samples decorrelates them, so the min
    // measures the plan; both are recorded, so cold-vs-warm stays visible.
    val pass1 = pass()
    val pass2 = pass()
    val out = lines(pass1, pass2, cpus, sfDir)
    // Only the LAST ~2000 chars of stdout are kept (measured across every
    // BENCH_r* artifact), so the full record (line 1) also goes to
    // BENCH_DETAIL.json, the latest run under the name the tooling reads,
    // and to BENCH_RUN.json, the same record under a name never min-folded
    // across windows ("board": false). The stdout layout fits that tail
    // (build.sbt passes the forked JVM's stdout through verbatim and drops
    // sbt's "[success]" trailer): line 1, the detail, is mostly cut; in
    // line 2, the per-query map at 3 decimals, every pair that survives the
    // cut parses by regex; line 3, the last, always survives whole.
    for (dir <- Seq(".", "/root/repo"); f <- Seq("BENCH_DETAIL.json", "BENCH_RUN.json")) {
      try Files.writeString(Paths.get(s"$dir/$f"), out.head + "\n")
      catch { case _: Throwable => () }
    }
    out.foreach(println)
    spark.stop()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Bench's three stdout lines from two passes over the same entries in
    * the same order. Each query's number is min(pass 1, pass 2); a query
    * that threw in either pass records -1, is excluded from the total, and
    * is listed in "failed" — a regression to a fast failure cannot shrink
    * the headline number. */
  def lines(pass1: Seq[Run], pass2: Seq[Run], cpus: Int, sf: String): Seq[String] = {
    def secs(r: Run) = if (r.failure.isDefined) -1.0 else r.wallS
    val results = pass1.zip(pass2).map { case (a, b) => a.name ->
      (if (Seq(a, b).exists(_.failure.isDefined)) -1.0 else math.min(a.wallS, b.wallS)) }
    def per(p: Seq[Run])(v: Run => Any) = VectorMap.from(p.map(r => r.name -> v(r)))
    def dec3(rs: Seq[(String, Double)]) = VectorMap.from(rs.map { case (k, v) =>
      k -> java.math.BigDecimal.valueOf(v).setScale(3, java.math.RoundingMode.HALF_UP) })
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.collect { case (k, v) if v < 0 => k }
    val head = VectorMap("metric" -> "total", "value" -> total, "unit" -> "sec")
    Seq(
      head ++ Seq("queries" -> VectorMap.from(results),
        "pass1" -> per(pass1)(secs), "pass2" -> per(pass2)(secs),
        "cpu1" -> per(pass1)(_.cpuMs), "cpu2" -> per(pass2)(_.cpuMs),
        "setup1" -> per(pass1)(_.setupS), "failed" -> failed,
        "board" -> false, "cpus" -> cpus, "sf" -> sf),
      head ++ Seq("queries" -> dec3(results), "sf" -> sf),
      head ++ Seq("n_queries" -> results.size, "failed" -> failed,
        "slowest" -> dec3(results.filter(_._2 >= 0).sortBy(-_._2).take(5)), "sf" -> sf,
        "note" -> "summary; full per-query detail in BENCH_DETAIL.json and the two lines above")
    ).map(mapper.writeValueAsString)
  }
}
