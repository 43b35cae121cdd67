package graft.streaming

import graft.engine._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's full reliable-write loop assembled as ONE shipped
  * pipeline (BackgroundContentTaskCompleter.scala:83-110): per micro-batch
  *
  *   1. ledger INTENT rows (completed = false) — the write-ahead record,
  *      like PrimaryWorker writing the `transaction` row with the content
  *   2. applyOps against the durable content store; append the new rows
  *   3. publish the feed events, per-document ordered (ChangeFeed.publish)
  *   4. ledger COMPLETION markers (completed = true) — only after a
  *      successful publish, the completer's `completed_at` update
  *
  * Crash anywhere: the streaming checkpoint replays the whole batch
  * (at-least-once). Every effect absorbs the replay — txn_ids are
  * deterministic (duplicate ledger rows fold in [[Ledger.current]]),
  * duplicate content rows collapse in Content.latestRows (same uri, item,
  * revision), and sinks are required idempotent on (uri, item, revision)
  * exactly as the reference's redelivery contract demands. A crash BETWEEN
  * publish and completion leaves incomplete ledger rows that
  * [[Ledger.recoveryWorkList]] surfaces for re-drive — the reference's
  * hot/stale recovery scan.
  *
  * Note on revisions: [[HyperStorage.applyOps]] assigns the authoritative
  * applied revisions inside the batch (per-key serialized fold), so the
  * separate ingest-ordering stage [[ChangeFeed.assignRevisions]] is not
  * repeated here — its contract scaladoc describes the split.
  */
object FeedPipeline {

  /** Start the streaming loop over an ops stream. `batchTsOf` maps the
    * micro-batch id to the deterministic event-time millis used for ledger
    * quanta and row timestamps (default: one minute per batch — never
    * wall-clock, so a replayed batch reproduces identical rows).
    *
    * `indexes` is for MAINTENANCE only (applyFeed never reads its storage
    * handle): create indexes BEFORE starting the stream, or from a FRESH
    * IndexManager over a newly opened store — the wired manager's storage
    * snapshot is frozen at construction, so a createIndex through it after
    * batches have run would build from stale state. */
  def start(ops: Dataset[WriteOp], storePath: String, ledgerPath: String,
      checkpointDir: String, batchTsOf: Long => Long = _ * 60000L,
      indexes: Option[graft.indexing.IndexManager] = None)
      (send: FeedEvent => Unit): StreamingQuery =
    ops.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: Dataset[WriteOp], batchId: Long) =>
        runBatch(batch, batchTsOf(batchId), storePath, ledgerPath,
          indexes)(send)
      }
      .start()

  /** One batch of the loop — also usable directly for batch ingestion.
    * `tsMillis` IS the batch identity: it keys the idempotent partition
    * overwrites below, so it must be unique per distinct batch (the
    * streaming default id*60000 is; a batch caller supplies its own
    * monotonic series).
    *
    * Replay-idempotent (exactly-once STATE, at-least-once DELIVERY): the
    * batch is always re-derived from the PRE-batch state — the state read
    * excludes this batch's own content partition, so a replayed batch
    * computes identical revisions — and both durable outputs land with
    * dynamic partition overwrite keyed by the batch (content under
    * batch=ts, ledger intent under its dt_quantum), replacing any partial
    * earlier attempt instead of stacking on top of it. */
  def runBatch(batch: Dataset[WriteOp], tsMillis: Long, storePath: String,
      ledgerPath: String,
      indexes: Option[graft.indexing.IndexManager] = None)
      (send: FeedEvent => Unit): Unit = {
    val s = batch.sparkSession
    val full = ContentStore.openOrEmpty(s, storePath)
    // pre-batch state: a crashed earlier attempt of THIS batch may have
    // written its partition already — exclude it or the replay would
    // re-apply on top of itself and mint fresh revisions
    val stateLog =
      if (full.log.columns.contains("batch"))
        full.log.filter(col("batch") =!= tsMillis)
      else full.log
    val store = new HyperStorage(s, stateLog, full.layout)
    val r = store.applyOps(batch, tsMillis)
    // checkpoints taken so far, released with the fold when the batch ends
    var checkpoints = List.empty[DataFrame]
    def checkpoint(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint()
      checkpoints ::= c
      c
    }
    try {
      // localCheckpoint (eager) BOTH outputs before any write: writing to
      // storePath below invalidates every cache whose lineage reads it
      // (Spark refreshes path-dependent plans on insert), so a merely
      // persisted fold would silently RECOMPUTE against the just-written
      // files — double-applying the batch. Checkpointing cuts the lineage
      // to materialized partitions with no path dependence.
      val feed = checkpoint(r.feed)
      val appended = checkpoint(r.appended)
      // 1. durable intent BEFORE any effect (write-ahead): overwrites this
      // BATCH's partition, clearing a crashed attempt's leftovers. Keyed
      // by the batch identity itself, NOT dt_quantum — two batches can
      // share a minute quantum, and an overwrite keyed on the coarser
      // quantum would erase the earlier batch's ledger rows
      Ledger.fromFeed(feed, tsMillis)
        .withColumn("batch", lit(tsMillis))
        .write.partitionBy("batch")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite).parquet(ledgerPath)
      // 2. content write-back: this batch's rows under their own batch
      // partition (idempotent overwrite on replay)
      ContentStore.writeBatch(appended, storePath, tsMillis)
      // 2b. secondary-index maintenance from the same feed (the
      // completer's index step, BackgroundContentTaskCompleter:126-188):
      // a partition-scoped manifest-committed merge per touched index.
      // Idempotent on replay — the merge recomputes each touched item's
      // rows from the feed batch (delete-obsolete + reinsert), so
      // re-merging the identical batch rewrites the same result
      indexes.foreach(_.applyFeed(feed))
      // write-path meters (the reference's per-operation meter set,
      // metrics/Metrics.scala): every count RIDES work the batch already
      // does — the rejection count is an accumulator inside applyOps'
      // fold (final here: the localCheckpoint above materialized it) and
      // the publish counts ride the sink sends — no metric schedules a
      // job. At-least-once on batch replay, like the delivery itself.
      val reg = EngineMetrics(s)
      reg.add("write.ops.rejected", r.rejectedCount())
      // 3. ordered publish — an exception here fails the batch AFTER the
      // intent landed: recovery sees the incomplete transactions. The sink
      // resolves from Spark conf (spark.graft.feed.sink, see [[FeedSink]]):
      // a Kafka-providing deployment plugs its producer factory in with
      // zero code change here; unset keeps the caller's callback
      implicit val enc: org.apache.spark.sql.Encoder[FeedEvent] =
        Encoders.product[FeedEvent]
      val pub = PublishMeters(s.sparkContext)
      // the finally publishes whatever WAS sent even when the sink fails
      // mid-batch — that divergence (published > completed, incomplete
      // ledger rows) is exactly what recovery and the spec observe
      try ChangeFeed.publishTo(feed.as[FeedEvent],
        pub.wrap(FeedSink.resolve(s, send)))
      finally pub.flushTo(reg)
      // 4. completion markers, APPENDED only after the publish succeeded
      // (append keeps intent rows intact; Ledger.current folds the pair)
      Ledger.fromFeed(feed, tsMillis).withColumn("completed", lit(true))
        .withColumn("batch", lit(tsMillis))
        .write.partitionBy("batch")
        .mode(SaveMode.Append).parquet(ledgerPath)
      // one completion row per feed event landed above — the published
      // total IS the completed total once step 4 commits
      reg.add("feed.events.completed", pub.total.value)
      ()
    } finally {
      checkpoints.foreach(graft.pipeline.Caches.releaseLocalCheckpoint)
      r.release()
    }
  }

  /** Current per-transaction ledger state (intent ∪ completions folded;
    * the physical `batch` partition key is dropped). */
  def ledgerState(spark: SparkSession, ledgerPath: String): DataFrame =
    Ledger.current(spark.read.parquet(ledgerPath).drop("batch"))

  /** Per-partition checkpoint low-water marks over the folded ledger. */
  def checkpoints(spark: SparkSession, ledgerPath: String): DataFrame =
    Ledger.checkpoints(ledgerState(spark, ledgerPath))

  /** Publish-side meter bundle: accumulators incremented executor-side
    * AFTER each successful sink send (so the counts mean "delivered", not
    * "attempted"), flushed into the session registry driver-side. Names:
    * `feed.events.published` plus the per-method split
    * `feed.events.put` / `feed.events.patch` / `feed.events.delete` —
    * the apply-outcome mix of the batch (POSTs surface as feed:put with
    * a generated id, so they count as puts, matching the feed
    * contract). */
  private[streaming] final case class PublishMeters(
      total: org.apache.spark.util.LongAccumulator,
      put: org.apache.spark.util.LongAccumulator,
      patch: org.apache.spark.util.LongAccumulator,
      delete: org.apache.spark.util.LongAccumulator) {

    def wrap(inner: FeedSinkFactory): FeedSinkFactory = {
      val (t, pu, pa, de) = (total, put, patch, delete)
      new FeedSinkFactory {
        def open(): FeedSink = {
          val sink = inner.open()
          new FeedSink {
            def send(e: FeedEvent): Unit = {
              sink.send(e)
              t.add(1L)
              e.method match {
                case "feed:put"    => pu.add(1L)
                case "feed:patch"  => pa.add(1L)
                case "feed:delete" => de.add(1L)
                case _             => ()
              }
            }
            override def close(): Unit = sink.close()
          }
        }
      }
    }

    def flushTo(reg: EngineMetrics.Registry): Unit = {
      reg.add("feed.events.published", total.value)
      reg.add("feed.events.put", put.value)
      reg.add("feed.events.patch", patch.value)
      reg.add("feed.events.delete", delete.value)
    }
  }

  private[streaming] object PublishMeters {
    def apply(sc: org.apache.spark.SparkContext): PublishMeters =
      PublishMeters(sc.longAccumulator("feed.events.published"),
        sc.longAccumulator("feed.events.put"),
        sc.longAccumulator("feed.events.patch"),
        sc.longAccumulator("feed.events.delete"))
  }
}
