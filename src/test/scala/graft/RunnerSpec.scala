package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.entries.Entry
import org.scalatest.freespec.AnyFreeSpec
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._

/** The one entry runner Bench, Verify and Probe format: a failure is a
  * record, not an exception; the cache is cleared after every run; task,
  * job and setup counts are the run's own; and Bench's lines parse for
  * any scale-factor path. */
class RunnerSpec extends AnyFreeSpec with Matchers with SparkFixture {

  private val sf = "/root/testdata/sf0.001"
  private lazy val runner = new Runner(spark)
  // a session of its own starts with an empty `prepared` memo
  private lazy val fresh = new Runner(spark.newSession())
  private def entry(name: String) = SparkEntry.entries.find(_.name == name).get

  "the entry runner" - {
    "records a throwing entry's failure and still clears the cache" in {
      val boom = Entry("boom", (s, _) => {
        s.range(10).cache().count()
        sys.error("boom")
      }, "SELECT 1")
      val run = runner.run(boom, sf)(_.count())
      run.failure.map(_.getMessage) shouldBe Some("boom")
      spark.sharedState.cacheManager.isEmpty shouldBe true
    }
    "records a real entry's tasks and jobs" in {
      val run = runner.run(entry("q1_agg"), sf)(_.count())
      run.failure shouldBe None
      run.tasks should be > 0L
      run.jobs should not be empty
    }
    "charges a memo build to the run that pays it, and only to that run" in {
      val first = fresh.run(entry("s4_index_scan"), sf)(_.count())
      val second = fresh.run(entry("s4_index_scan"), sf)(_.count())
      Seq(first, second).flatMap(_.failure) shouldBe empty
      first.setupS should be > 0.0
      second.setupS shouldBe 0.0
    }
    "counts a nested memo build once" in {
      val run = fresh.run(entry("ann_ivfpq_residual_tables"), sf)(_.count())
      run.failure shouldBe None
      run.setupS should be > 0.0
      run.setupS should be <= run.wallS
    }
  }

  "Bench's lines parse whatever the scale-factor path holds" in {
    val path = "/data/a\"b\\c"
    def run(name: String, wallS: Double, failure: Option[Throwable]) =
      Run(name, wallS, 12, 1, 4, Nil, 0.5, failure)
    val lines = Bench.lines(
      Seq(run("a", 1.25, None), run("b", 0.1, Some(new RuntimeException("x")))),
      Seq(run("a", 1.0, None), run("b", 0.1, None)), cpus = 4, sf = path)
    lines should have size 3
    val Seq(detail, compact, summary) = lines.map(new ObjectMapper().readTree(_))
    detail.fieldNames.asScala.toSeq shouldBe Seq("metric", "value", "unit",
      "queries", "pass1", "pass2", "cpu1", "cpu2", "setup1", "failed", "board",
      "cpus", "sf")
    detail.get("value").asDouble shouldBe 1.0
    detail.get("queries").get("b").asDouble shouldBe -1.0
    detail.get("cpu2").get("a").asLong shouldBe 12L
    compact.get("sf").asText shouldBe path
    lines(1) should include("\"a\":1.000")
    lines(1) should include("\"b\":-1.000")
    summary.get("failed").elements.asScala.map(_.asText).toSeq shouldBe Seq("b")
    summary.get("sf").asText shouldBe path
  }
}
