package graft

import org.scalatest.freespec.AnyFreeSpec
import org.scalatest.matchers.should.Matchers

/** Driver-contract consistency guards: every entry carries a body and an
  * oracle under a unique name; the registry never shrinks; the flagship
  * entry returns rows at the smoke scale. */
class SparkEntrySpec extends AnyFreeSpec with Matchers with SparkFixture {

  "SparkEntry" - {
    "entry names are unique, and every entry has a run and an oracle" in {
      // a null here is a family val read before its object finished
      // initializing (a cycle between a family and the shared helpers)
      val names = SparkEntry.entries.map(_.name)
      names.diff(names.distinct) shouldBe empty
      SparkEntry.entries.filter(e => e.run == null || e.oracleSql == null ||
        e.oracleSql.trim.isEmpty).map(_.name) shouldBe empty
    }
    "the registry never shrinks (entry-count tripwire)" in {
      // Verify swallows a failed entry with a stderr line, and the
      // driver's comparer would only show it as MISSING — this is the
      // in-repo loud failure if an entry (or its oracle) is dropped by
      // refactoring. Raise the floor when entries are ADDED; never
      // lower it.
      SparkEntry.queries.size should be >= 219
      SparkEntry.oracleSql.size should be >= 219
    }
    "every registered entry appears in the committed bench board" in {
      // a wave that lands entries without benching them would pass the
      // other tripwires silently — BENCH_DETAIL.json is written by every
      // full Bench run (the committed copy is the round's board), so any
      // queries key missing from it means the board is stale: re-run
      // graft.Bench before shipping the wave
      // resolve against the build root (the directory holding build.sbt,
      // walking up from user.dir) so the gate doesn't depend on sbt's
      // launch directory; if the board file is missing or stale, the fix
      // is always: re-run graft.Bench and commit BENCH_DETAIL.json
      val root0 = new java.io.File(sys.props("user.dir")).getAbsoluteFile
      val buildRoot = Iterator.iterate(root0)(_.getParentFile)
        .takeWhile(_ != null)
        .find(d => new java.io.File(d, "build.sbt").exists())
        .getOrElse(fail(s"no build.sbt found walking up from $root0 — " +
          "cannot locate the repo's committed bench board"))
      val f = new java.io.File(buildRoot, "BENCH_DETAIL.json")
      withClue(s"$f missing — re-run graft.Bench to write the board: ") {
        f.exists() shouldBe true
      }
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      val benched = {
        val it = root.get("queries").fieldNames()
        val b = Set.newBuilder[String]
        while (it.hasNext) b += it.next()
        b.result()
      }
      withClue("entries missing from the committed bench board — " +
        "re-run graft.Bench (and fold the window into BENCH_DETAIL.json) " +
        "before shipping the wave: ") {
        (SparkEntry.queries.keySet -- benched) shouldBe empty
      }
    }
    "entry() answers the smoke check (rows > 0 at sf0.001)" in {
      SparkEntry.entry(spark).count() should be > 0L
    }
    "every streaming gate returns rows and leaves no session state behind" in {
      // a gate that leaves a query running, a memory-sink view registered
      // or its state-partition override set changes what the next entry
      // on the same session sees
      val gates = SparkEntry.queries.keys.filter(_.contains("_stream_"))
        .toSeq.sorted
      gates should have size 12
      def tables() = spark.catalog.listTables().collect().map(_.name).toSet
      val tablesBefore = tables()
      val partitions = spark.conf.get("spark.sql.shuffle.partitions")
      val rowless = gates.filter(g =>
        SparkEntry.queries(g)(spark, "/root/testdata/sf0.001").count() == 0)
      rowless shouldBe empty
      spark.streams.active shouldBe empty
      (tables() -- tablesBefore) shouldBe empty
      spark.conf.get("spark.sql.shuffle.partitions") shouldBe partitions
    }
    "IntegratedSpec paging: POSTed items page back in id order" in {
      // reference IntegratedSpec.scala:275-363 — POST 250 items, page with
      // the default size, ids are monotonic and pages don't overlap
      import graft.engine._
      val sess = spark
      import sess.implicits._
      val ops = (1 to 250).map(i => WriteOp(i.toLong, "POST", "posted~", s"""{"n":$i}"""))
      val log = HyperStorage(spark, Content.empty(spark))
        .applyOps(sess.createDataset(ops)).log
      val st = HyperStorage(spark, log)
      val p1 = st.query("posted~") // default size 100
      val ids1 = p1.rows.collect().map(_.getAs[String]("item_id")).toSeq
      ids1.length shouldBe 100
      ids1 shouldBe ids1.sorted
      val p2 = st.query("posted~", itemIdFilter = Some((">", ids1.last)))
      val ids2 = p2.rows.collect().map(_.getAs[String]("item_id")).toSeq
      ids2.length shouldBe 100
      (ids1.toSet & ids2.toSet) shouldBe empty
      ids2.head should be > ids1.last
      st.revisionOf("posted~") shouldBe 250
    }
  }
}
