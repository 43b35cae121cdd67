package graft.streaming

import graft.SparkFixture
import graft.engine._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.freespec.AnyFreeSpec
import org.scalatest.matchers.should.Matchers
import java.nio.file.Files

/** The assembled reliable-write loop (reference
  * BackgroundContentTaskCompleter.scala:83-110): store write-back, ordered
  * publish, ledger intent/completion, checkpoint advance — including a
  * crash between publish and completion driven through replay. */
class FeedPipelineSpec extends AnyFreeSpec with Matchers with SparkFixture {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def paths() =
    (tmp("fp-store"), tmp("fp-ledger"), tmp("fp-ckpt"))

  "FeedPipeline" - {
    "runs the whole loop: store + ordered publish + ledger + checkpoint" in {
      implicit val sql = spark.sqlContext
      import spark.implicits._
      TestSink.reset()
      val (storePath, ledgerPath, ckpt) = paths()
      val source = MemoryStream[WriteOp]
      val q = FeedPipeline.start(source.toDS(), storePath, ledgerPath, ckpt)(
        TestSink.send)
      try {
        source.addData(
          WriteOp(1, "PUT", "c~/a", """{"x":1}"""),
          WriteOp(2, "PUT", "c~/b", """{"x":2}"""))
        q.processAllAvailable()
        source.addData(
          WriteOp(3, "PATCH", "c~/a", """{"y":9}"""),
          WriteOp(4, "DELETE", "c~/b", null))
        q.processAllAvailable()
      } finally q.stop()

      // content store reflects both batches
      val st = ContentStore.open(spark, storePath)
      st.revisionOf("c~") shouldBe 4
      st.get("c~/a").map(_.getAs[String]("body")) shouldBe
        Some("""{"x":1,"id":"a","y":9}""")
      st.get("c~/b") shouldBe None

      // every event delivered, revisions gapless
      TestSink.delivered.keys.map(_._3).toSeq.sorted shouldBe Seq(1L, 2L, 3L, 4L)

      // ledger folded state: all four transactions completed
      val ledger = FeedPipeline.ledgerState(spark, ledgerPath)
      ledger.count() shouldBe 4
      ledger.filter(!org.apache.spark.sql.functions.col("completed"))
        .count() shouldBe 0

      // checkpoint advanced to the LAST batch's quantum (batchTs = id*60s,
      // fully complete partition ⇒ max seen quantum)
      FeedPipeline.checkpoints(spark, ledgerPath)
        .collect().map(_.getAs[Long]("checkpoint_quantum")).toSeq shouldBe Seq(1L)
    }

    "maintains durable secondary indexes through the loop, across crash/replay" in {
      implicit val sql = spark.sqlContext
      import spark.implicits._
      import graft.indexing.{IndexManager, IndexStore}
      TestSink.reset()
      val (storePath, ledgerPath, ckpt) = paths()
      // bootstrap: an index over the (initially empty) durable store
      val im = new IndexManager(
        ContentStore.openOrEmpty(spark, storePath),
        Some(new IndexStore(spark, tmp("fp-idx"))))
      im.createIndex("c~", "big", Nil, Some("x > 5"))
      TestSink.failOn = Some("m2") // crash mid-batch-2, AFTER index merge
      val source = MemoryStream[WriteOp]
      val q1 = FeedPipeline.start(source.toDS(), storePath, ledgerPath, ckpt,
        indexes = Some(im))(TestSink.send)
      source.addData(
        WriteOp(1, "PUT", "c~/m1", """{"x":9}"""),
        WriteOp(2, "PUT", "c~/m2", """{"x":1}"""))
      intercept[Exception] { q1.processAllAvailable() }
      q1.stop()
      // replay the batch, then run a second one that flips memberships
      TestSink.failOn = None
      val q2 = FeedPipeline.start(source.toDS(), storePath, ledgerPath, ckpt,
        indexes = Some(im))(TestSink.send)
      try {
        q2.processAllAvailable()
        source.addData(
          WriteOp(3, "PATCH", "c~/m1", """{"x":2}"""), // leaves the index
          WriteOp(4, "PATCH", "c~/m2", """{"x":8}""")) // enters the index
        q2.processAllAvailable()
      } finally q2.stop()
      im.indexTable("c~", "big").get.select("item_id").collect()
        .map(_.getString(0)).toSeq shouldBe Seq("m2")
    }

    "meters the write path exactly across a crash/replay run" in {
      // the reference's per-operation meter set (metrics/Metrics.scala)
      // across the full loop: applied-op mix, rejections, published vs
      // completed — with the crash window visible as published > completed
      import spark.implicits._
      TestSink.reset()
      val (storePath, ledgerPath, _) = paths()
      val reg = EngineMetrics(spark)
      reg.reset()

      // batch 1: two PUTs apply, one PATCH of an absent item rejects (404)
      FeedPipeline.runBatch(
        Seq(WriteOp(1, "PUT", "c~/a", """{"x":1}"""),
          WriteOp(2, "PUT", "c~/b", """{"x":2}"""),
          WriteOp(3, "PATCH", "c~/zz", """{"y":1}""")).toDS(),
        60000L, storePath, ledgerPath)(TestSink.send)
      reg.get("write.batches") shouldBe 1
      reg.get("write.ops.rejected") shouldBe 1
      reg.get("feed.events.published") shouldBe 2
      reg.get("feed.events.put") shouldBe 2
      reg.get("feed.events.completed") shouldBe 2

      // batch 2 crashes INSIDE the publish: nothing was delivered, so
      // neither published nor completed moves — but the intent landed
      // (recovery sees it) and the batch counter advanced
      TestSink.failOn = Some("a")
      intercept[Exception] {
        FeedPipeline.runBatch(
          Seq(WriteOp(4, "PATCH", "c~/a", """{"y":9}""")).toDS(),
          120000L, storePath, ledgerPath)(TestSink.send)
      }
      reg.get("write.batches") shouldBe 2
      reg.get("feed.events.published") shouldBe 2
      reg.get("feed.events.completed") shouldBe 2
      Ledger.recoveryWorkList(
        FeedPipeline.ledgerState(spark, ledgerPath), 0L, 10L)
        .count() shouldBe 1

      // replay of the same batch drains the gap: published and completed
      // converge, the patch shows up in the method mix, rejects unchanged
      TestSink.failOn = None
      FeedPipeline.runBatch(
        Seq(WriteOp(4, "PATCH", "c~/a", """{"y":9}""")).toDS(),
        120000L, storePath, ledgerPath)(TestSink.send)
      reg.get("write.batches") shouldBe 3
      reg.get("write.ops.rejected") shouldBe 1
      reg.get("feed.events.published") shouldBe 3
      reg.get("feed.events.put") shouldBe 2
      reg.get("feed.events.patch") shouldBe 1
      reg.get("feed.events.delete") shouldBe 0
      reg.get("feed.events.completed") shouldBe 3
    }

    "a first batch that rejects every op leaves an empty store the next batch extends" in {
      import spark.implicits._
      TestSink.reset()
      val (storePath, ledgerPath, _) = paths()
      // batch 1 on an empty path: both ops target absent items (404s), so
      // the store's first write carries no rows
      FeedPipeline.runBatch(
        Seq(WriteOp(1, "PATCH", "c~/a", """{"y":1}"""),
          WriteOp(2, "DELETE", "c~/b", null)).toDS(),
        60000L, storePath, ledgerPath)(TestSink.send)
      TestSink.delivered shouldBe empty
      val first = ContentStore.openOrEmpty(spark, storePath)
      first.get("c~/a") shouldBe None
      first.revisionOf("c~") shouldBe 0
      // batch 2 applies on top of that empty version
      FeedPipeline.runBatch(
        Seq(WriteOp(3, "PUT", "c~/a", """{"x":1}"""),
          WriteOp(4, "PUT", "c~/b", """{"x":2}""")).toDS(),
        120000L, storePath, ledgerPath)(TestSink.send)
      TestSink.delivered.keys.map(_._3).toSeq.sorted shouldBe Seq(1L, 2L)
      val st = ContentStore.open(spark, storePath)
      st.get("c~/a").map(_.getAs[String]("body")) shouldBe
        Some("""{"x":1,"id":"a"}""")
      st.query("c~").rows.collect().map(_.getAs[String]("item_id")).toSeq shouldBe
        Seq("a", "b")
      st.revisionOf("c~") shouldBe 2
    }

    "releases every cache it takes: no persisted RDD outlives a batch" in {
      import spark.implicits._
      import graft.indexing.{IndexManager, IndexStore}
      TestSink.reset()
      val (storePath, ledgerPath, _) = paths()
      val im = new IndexManager(ContentStore.openOrEmpty(spark, storePath),
        Some(new IndexStore(spark, tmp("fp-idx"))))
      im.createIndex("c~", "all", Nil, None)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      FeedPipeline.runBatch(
        Seq(WriteOp(1, "PUT", "c~/a", """{"x":1}"""),
          WriteOp(2, "POST", "c~", """{"x":2}""")).toDS(),
        60000L, storePath, ledgerPath, Some(im))(TestSink.send)
      // (a difference, not an equality: the ContextCleaner may drop
      // earlier specs' caches meanwhile)
      (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
    }

    "crash between publish and completion: incomplete ledger, clean replay" in {
      implicit val sql = spark.sqlContext
      import spark.implicits._
      TestSink.reset()
      TestSink.failOn = Some("i2") // publish of i2 throws exactly once
      val (storePath, ledgerPath, ckpt) = paths()
      val source = MemoryStream[WriteOp]
      source.addData(
        WriteOp(1, "PUT", "c~/i1", "{}"),
        WriteOp(2, "PUT", "c~/i2", "{}"))

      val q1 = FeedPipeline.start(source.toDS(), storePath, ledgerPath, ckpt)(
        TestSink.send)
      val failed = intercept[Exception] { q1.processAllAvailable() }
      failed.getMessage should include("faulty publish")
      q1.stop()

      // the batch failed AFTER intent landed: the ledger shows incomplete
      // transactions — exactly what the recovery scan must re-drive
      val mid = FeedPipeline.ledgerState(spark, ledgerPath)
      Ledger.recoveryWorkList(mid, 0L, 10L).count() shouldBe 2

      // restart from the SAME checkpoint: the batch replays end-to-end.
      // The replay re-derives the SAME revisions from pre-batch state and
      // overwrites its own content/ledger partitions (exactly-once state).
      val q2 = FeedPipeline.start(source.toDS(), storePath, ledgerPath, ckpt)(
        TestSink.send)
      try q2.processAllAvailable() finally q2.stop()

      TestSink.delivered.keySet.map(_._2) shouldBe Set("i1", "i2")
      TestSink.delivered.keys.map(_._3).toSeq.sorted shouldBe Seq(1L, 2L)
      val after = FeedPipeline.ledgerState(spark, ledgerPath)
      after.count() shouldBe 2 // the replay replaced, not duplicated
      after.filter(!org.apache.spark.sql.functions.col("completed"))
        .count() shouldBe 0
      // replayed content partitions overwrote the crashed attempt's rows
      val st = ContentStore.open(spark, storePath)
      st.query("c~").rows.collect().map(_.getAs[String]("item_id")).toSeq shouldBe
        Seq("i1", "i2")
      st.revisionOf("c~") shouldBe 2
    }
  }
}
