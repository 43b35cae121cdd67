package graft.streaming

import graft.engine.{FeedEvent, HyperStorage, WriteOp}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** The reference's reliable change feed (ST1/ST2/ST6) on Structured
  * Streaming.
  *
  * - ST1: one FEED:<method> event per applied write, revision attached
  *   (PrimaryWorker.scala:217-227).
  * - ST6: gapless monotonic revision assignment per document — the
  *   reference serializes writes through one actor per URI
  *   (ShardProcessor.scala:363-420); here `flatMapGroupsWithState` keyed
  *   by document_uri gives the same single-writer-per-key guarantee with
  *   COMPACT state (one Long per live document — at 100 TB the state store
  *   holds only #documents longs, not bodies).
  * - ST2: at-least-once delivery with per-key ordering — publish happens
  *   inside `foreachBatch` partitioned by document_uri and sorted by
  *   revision; a failed batch is replayed from the checkpoint on restart
  *   (duplicates possible, exactly like the reference's
  *   publish-then-complete loop, BackgroundContentTaskCompleter.scala:
  *   83-96), so sinks must be idempotent on (uri, item, revision).
  */
object ChangeFeed {

  implicit private val feedEnc: org.apache.spark.sql.Encoder[FeedEvent] =
    Encoders.product[FeedEvent]
  implicit private val longEnc: org.apache.spark.sql.Encoder[Long] =
    Encoders.scalaLong

  /** ST6: assign gapless per-document INGEST revisions to a stream of
    * write ops. State = last revision per URI (a single Long). Ops inside
    * a batch are ordered by `seq`; the method is rewritten to its feed:*
    * form. A POST's id is its zero-padded revision, as on the apply path:
    * deterministic, so a replayed batch emits identical events (SURVEY
    * §7.4 risk 1), and unique per collection across batches.
    *
    * CONTRACT: this is the ingest-ordering stage — the revision sequence
    * numbers every arriving op. Whether an op ultimately applies (PATCH of
    * an absent doc ⇒ 404) and what the merged body is require document
    * state that deliberately does NOT live in this operator (compact
    * Long-only state at 100 TB); the materializing pipeline is
    * foreachBatch → [[graft.engine.HyperStorage.applyOps]] (see the
    * end-to-end ChangeFeedSpec), whose APPLIED revisions are the ones the
    * content store serves. PATCH events here carry the patch body, not the
    * merged result. POST to a non-collection path is dropped (the batch
    * path rejects it with method-not-allowed). */
  def assignRevisions(ops: Dataset[WriteOp]): Dataset[FeedEvent] = {
    ops.groupByKey(op => HyperStorage.splitPath(op.path)._1)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uri: String, it: Iterator[WriteOp], state: GroupState[Long]) =>
          var rev = state.getOption.getOrElse(0L)
          val out = it.toSeq.sortBy(_.seq).flatMap { op =>
            val (_, rawItem) = HyperStorage.splitPath(op.path)
            val rewritten = op.method.toUpperCase match {
              case "POST" if HyperStorage.isCollectionUri(uri) && rawItem.isEmpty =>
                Some(("put", f"${rev + 1}%019d")) // the revision it gets
              case "POST" => None // batch path: method-not-allowed
              case m => Some((m.toLowerCase, rawItem))
            }
            rewritten.map { case (method, itemId) =>
              rev += 1
              FeedEvent(uri, itemId, s"feed:$method", rev, op.body)
            }
          }
          state.update(rev)
          out.iterator
      }
  }

  /** Publish one batch of feed events with per-key ordering: partitioned
    * by document_uri, sorted by (uri, revision) within each partition —
    * the reference's per-document ordered Kafka publish. An exception
    * fails the caller's batch (at-least-once on replay). */
  def publish(batch: Dataset[FeedEvent])(send: FeedEvent => Unit): Unit =
    publishTo(batch, FeedSink.Callback(send))

  /** [[publish]] through a pluggable [[FeedSinkFactory]] (S11): each
    * partition opens its own sink executor-side, sends its ordered run,
    * and closes — the shape a real Kafka producer needs. */
  def publishTo(batch: Dataset[FeedEvent], factory: FeedSinkFactory): Unit =
    batch
      .repartition(col("document_uri"))
      .sortWithinPartitions(col("document_uri"), col("revision"))
      .foreachPartition { (it: Iterator[FeedEvent]) =>
        val sink = factory.open()
        try it.foreach(sink.send) finally sink.close()
      }

  /** ST2: deliver a feed stream to a sink with per-key ordering. The sink
    * runs inside foreachBatch — exceptions fail the batch; restarting from
    * the same checkpoint replays it (at-least-once). */
  def deliver(feed: Dataset[FeedEvent], checkpointDir: String)
      (send: FeedEvent => Unit): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: Dataset[FeedEvent], _: Long) =>
        publish(batch)(send)
      }
      .start()
}
