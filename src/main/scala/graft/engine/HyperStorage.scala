package graft.engine

import graft.hql.{FieldResolver, Translator}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Errors mirroring the reference's taxonomy (HyperbusAdapter.scala). */
sealed abstract class GraftError(msg: String) extends RuntimeException(msg)
final class NotFound(path: String) extends GraftError(s"not-found: $path")
final class Conflict(msg: String) extends GraftError(msg)
final class QuerySkippedRowsLimited(max: Int)
    extends GraftError(s"query-skipped-rows-limited: $max")
final class QueryTimeout(ms: Long) extends GraftError(s"query-timeout: ${ms}ms")

/** The reference's query-deadline contract (HyperbusAdapter.scala:280-281:
  * `endTimeInMillis` checked per fetch round → `query-timeout`). A Spark
  * query is ONE complete job rather than an iterative refetch loop, so the
  * surviving contract is a wall-clock deadline around the query's actions:
  * the body runs in a tagged Spark job group, and on expiry every job in
  * the group is cancelled (executors interrupt) before [[QueryTimeout]] is
  * thrown — a timed-out query releases its cluster resources instead of
  * running on. The reference's `query-count-limited` (:278-279) bounds its
  * refetch RECURSION, which has no Spark analog (O7 N/A by design). */
object QueryGuard {
  /** How long a timed-out query gets to die before we stop re-cancelling
    * its job group and walk away (the thread is a daemon either way). */
  private val CancelGraceMillis = 10000L

  def withDeadline[T](spark: SparkSession, timeoutMillis: Long)(body: => T): T = {
    val group = s"graft-deadline-${java.util.UUID.randomUUID()}"
    // a dedicated thread, not an ExecutionContext: the job group is
    // thread-local, the body BLOCKS on Spark actions (it would pin a
    // shared pool thread), and a timeout must be able to interrupt it
    val started = new java.util.concurrent.CountDownLatch(1)
    @volatile var outcome: Either[Throwable, T] = null
    val t = new Thread(() => {
      spark.sparkContext.setJobGroup(group, "graft query deadline",
        interruptOnCancel = true)
      started.countDown()
      try outcome = Right(body)
      catch { case e: Throwable => outcome = Left(e) }
      finally spark.sparkContext.clearJobGroup()
    }, group)
    t.setDaemon(true)
    t.start()
    t.join(math.max(timeoutMillis, 1L))
    if (t.isAlive) {
      // the latch guarantees the group was registered before any job this
      // body submits — a cancel can never race ahead of setJobGroup; the
      // re-cancel loop catches jobs the body submits AFTER the first
      // cancel (a multi-job body between actions), and the interrupt
      // surfaces in non-Spark blocking sections
      started.await()
      var waited = 0L
      while (t.isAlive && waited < CancelGraceMillis) {
        spark.sparkContext.cancelJobGroup(group)
        t.interrupt()
        t.join(200L)
        waited += 200L
      }
      throw new QueryTimeout(timeoutMillis)
    }
    outcome match {
      case Right(v) => v
      case Left(e) => throw e // body errors propagate untranslated
      case null => throw new QueryTimeout(timeoutMillis)
    }
  }
}

final case class SortBy(fieldName: String, descending: Boolean = false)
object SortBy {
  /** Parse `"a,-b"` → Seq(SortBy(a), SortBy(b, descending)). */
  def parse(s: String): Seq[SortBy] =
    s.split(",").map(_.trim).filter(_.nonEmpty).map {
      case f if f.startsWith("-") => SortBy(f.substring(1), descending = true)
      case f if f.startsWith("+") => SortBy(f.substring(1))
      case f => SortBy(f)
    }.toSeq
}

/** Collection query result: the page's rows and the collection revision.
  *
  * The primary path ([[HyperStorage.query]]) reports the content log's
  * current revision, like [[HyperStorage.revisionOf]]. An index-served
  * result ([[graft.indexing.QueryPlanner]]) reports the revision recorded
  * in the commit of the index version its rows come from — the state the
  * rows actually reflect. The two agree whenever every write to the
  * collection goes through index maintenance (`FeedPipeline.runBatch`
  * with `indexes`, or [[graft.indexing.IndexManager.applyFeed]]); a write
  * that bypasses it leaves the index stale, and its results then report
  * the older revision their rows belong to.
  *
  * `release` (outside case-class equality) drops the persisted
  * latest-revision fold backing `rows` (mirroring [[ApplyResult.release]]):
  * call it once the rows have been consumed. Embedders that batch many
  * queries per session (like Bench's per-entry cache clear) may skip it;
  * without either, each successful query leaves its collection-sized
  * MEMORY_AND_DISK fold cached until a later eviction: one block for a
  * collection read in one task ([[HyperStorage.uriScan]]), one per shuffle
  * partition for a larger one. Index-served results carry a no-op
  * release. */
final case class QueryResult(rows: DataFrame, revision: Long)(
    val release: () => Unit = () => ())

/** One write operation — the engine's "query language" for mutations
  * (reference §2.11: PUT/PATCH/DELETE/POST over documents and collection
  * items). `seq` orders operations within a batch; per-document application
  * is serialized by key exactly like the reference's per-key single worker
  * (ShardProcessor.scala:363-420), here via groupByKey+cogroup. */
final case class WriteOp(seq: Long, method: String, path: String, body: String)

final case class ContentRow(
    document_uri: String, item_id: String, revision: Long,
    body: String, is_deleted: Boolean,
    created_at: java.sql.Timestamp, modified_at: java.sql.Timestamp)

/** Feed event emitted per applied write (reference ST1: method rewritten
  * PUT→feed:put etc., revision attached at transaction creation,
  * PrimaryWorker.scala:217-227). */
final case class FeedEvent(
    document_uri: String, item_id: String, method: String,
    revision: Long, body: String)

/** Per-op error outcome — the reference returns these as HTTP statuses
  * (404 PrimaryWorker.scala:272-278, 409 :241-270); in a distributed batch
  * apply they surface as a rejected-ops output channel. */
final case class RejectedOp(seq: Long, path: String, method: String, code: String)

private[engine] final case class ApplyOutcome(
    row: Option[ContentRow], feed: Option[FeedEvent], rejected: Option[RejectedOp])

/** Batch write result: the new content log, the change feed slice, and the
  * per-op rejections (error taxonomy channel). `appended` is ONLY the rows
  * this batch produced — what a write-back loop appends to durable storage.
  * Call [[release]] once the outputs are consumed (e.g. after write-back in
  * a foreachBatch loop) to drop the cached fold backing all three. */
final case class ApplyResult(log: DataFrame, feed: DataFrame, rejected: DataFrame,
    release: () => Unit = () => (), appended: DataFrame = null,
    rejectedCount: () => Long = () => 0L)

/** How a stored content log is laid out by URI ([[ContentStore]]):
  * `pruner(uri)` is the filter on the partition the URI column `uri` lands
  * in (a literal URI folds to a static partition filter), and `bytes(uri)`
  * the data size of that partition, taken from the file listing the store
  * already holds. */
final case class UriLayout(pruner: Column => Column, bytes: String => Long)

/** HyperStorage-on-Spark: the reference's query and mutation capabilities
  * over a content log DataFrame.
  *
  * Read path (§3.1 of SURVEY.md): filter expression → Catalyst Column via
  * the HQL translator; sort → orderBy with the reference's type rules;
  * size/skipMax → the page and scan-cap guard shared with the index path
  * ([[Page]]). Catalyst performs the pushdown / top-k work the reference
  * hand-implements (queryUntilFetched, HyperbusAdapter.scala:268-309).
  *
  * Scale posture: every per-URI read goes through [[uriScan]], which
  * filters the log by `document_uri` (and the store's partition) BEFORE
  * the latest-revision fold, so the predicate reaches the scan (partition
  * pruning) instead of sitting above a whole-log shuffle. A URI whose
  * bytes fit one task is read as one partition, and everything above the
  * scan (fold, guard aggregate, tombstone join, top-k) runs in that one
  * task with no Exchange; a larger URI keeps a parallel scan and folds
  * through a shuffle.
  */
final class HyperStorage(val spark: SparkSession, val log: DataFrame,
    val layout: Option[UriLayout] = None) {
  import HyperStorage._

  /** Whole latest visible state (all collections). Unreserved full view —
    * per-URI paths below do NOT go through this (no blanket cache; at
    * 100 TB a compacted current-state table replaces re-derivation). */
  lazy val current: DataFrame = Content.latestView(log)

  /** The bytes a read of `uri` scans: its partition's data files in a
    * stored log ([[UriLayout]]); for an in-memory log, the optimizer's
    * estimate of the whole log. */
  def uriBytes(uri: String): BigInt =
    layout.fold(log.queryExecution.optimizedPlan.stats.sizeInBytes)(l => BigInt(l.bytes(uri)))

  /** The one per-URI read: the log's rows of `uri`, with the URI predicate
    * and the layout's partition predicate on the scan. When the URI's bytes
    * are at most `spark.sql.files.openCostInBytes` — the size below which
    * Spark packs files into one split rather than open them in parallel —
    * the scan is coalesced to one partition: every operator above it then
    * sees a single partition and plans no Exchange. Above that the scan
    * keeps its splits. Either way the rows are the same. */
  def uriScan(uri: String): DataFrame = {
    val rows = log.filter(pruner(lit(uri)) && col("document_uri") === uri)
    if (uriBytes(uri) <= spark.sessionState.conf.filesOpenCostInBytes) rows.coalesce(1)
    else rows
  }

  /** The layout's partition filter for the URI column `uri`. */
  private def pruner(uri: Column): Column = layout.fold(lit(true))(_.pruner(uri))

  /** Latest row per (uri,item) for one URI, folded over [[uriScan]]. */
  private def latestFor(uri: String): DataFrame = Content.latestRows(uriScan(uri))

  /** Time-travel view, COLLECTION-revision cutoff: every read — get,
    * query, pagination, static row — sees the state as of collection
    * revision `maxRevision` inclusive. Revisions are monotone per
    * collection (each write bumps the static revision and stamps the
    * row with it — the reference's model), so within a collection this
    * is a CONSISTENT snapshot: exactly the first `maxRevision` writes.
    * Across collections each counter runs independently; for a
    * wall-clock-consistent cross-collection point use [[asOfTime]].
    * The revision model keeps superseded rows until compaction (as the
    * reference's Cassandra log does, scheme.cql revision column), so
    * the snapshot read is just a log filter — and it lands BELOW the
    * latest-revision window on every path, i.e. directly on the scan
    * next to the URI/partition pruning predicates. Writes through a
    * snapshot view are not meaningful; use the live storage. */
  def asOf(maxRevision: Long): HyperStorage =
    new HyperStorage(spark, log.filter(col("revision") <= maxRevision), layout)

  /** Time-travel view, CHRONOLOGICAL cutoff: the state as of wall-clock
    * `millis` inclusive — rows written by later batches (their
    * `modified_at` batch timestamp) do not exist for it. A consistent
    * cross-document snapshot ONLY when callers stamp their batches with
    * monotone non-decreasing `batchTsMillis` ([[applyOps]]) — the write
    * path stamps but does not enforce. In particular, batches left on
    * applyOps' reproducibility default of 0L all collapse onto the
    * epoch, and `asOfTime(0)` already sees every such write: a lineage
    * meant for chronological time travel must pass explicit, increasing
    * batch times. Same scan-level filter shape as [[asOf]]; for a
    * per-collection snapshot independent of wall clocks use [[asOf]]'s
    * revision cutoff. */
  def asOfTime(millis: Long): HyperStorage =
    new HyperStorage(spark,
      log.filter(col("modified_at") <= timestamp_millis(lit(millis))), layout)

  /** S1 point get: document (itemId="") or collection item. Deleted
    * documents / items of deleted collections are invisible. */
  def get(path: String): Option[Row] = getDF(path).collect().headOption

  /** S1 as a single-row DataFrame plan (stays distributed). */
  def getDF(path: String): DataFrame = {
    val (uri, itemId) = splitPath(path)
    Content.visible(latestFor(uri))
      .filter(col("item_id") === itemId)
      .limit(1)
  }

  /** S3: collection-level revision, 0 for a URI never written (the
    * reference keeps it as a Cassandra static column, Db.scala:179-183).
    * One aggregate over [[uriScan]], no latest-revision fold: the latest
    * row of every item is among the raw rows, and no fold drops the row
    * holding the maximum, so both maxima agree. */
  def revisionOf(uri: String): Long = {
    val r = uriScan(uri).agg(max("revision")).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** §3.1 collection query. Filter is an HQL expression over body fields;
    * itemIdFilter supports the S2 clustering-range form; `ascending=false`
    * is the reference's descending collection scan (Db.scala:146-177).
    * Deleted / never-created collections throw NotFound (reference 404,
    * HyperbusAdapter.scala:122-134). The skipped-rows guard is
    * [[Page.guard]] in item_id order; pass skipMax < 0 to disable it. */
  def query(
      collectionUri: String,
      filter: Option[String] = None,
      sort: Seq[SortBy] = Nil,
      size: Int = DefaultPageSize,
      skipMax: Int = DefaultMaxSkippedRows,
      ascending: Boolean = true,
      itemIdFilter: Option[(String, String)] = None,
      extraPredicate: Option[FieldResolver => Column] = None): QueryResult = {

    val latest0 = latestFor(collectionUri)
    // ONE JSON parse per row per action: every field the filter, the sort
    // keys and the resume-key predicate touch is extracted by a single
    // json_tuple pass; the per-expression get_json_object alternative
    // re-parses the body once per occurrence per operator (Jackson parser
    // creation dominates JSON-heavy scan profiles)
    val ast = filter.map(f => graft.hql.HqlParser(f))
    val idents = (ast.map(_.identifiers).getOrElse(Nil) ++
      sort.filterNot(_.fieldName == "id")
        .map(s => graft.hql.Ident(s.fieldName))).distinct
    val (latest1, resolver, helperCols) =
      FieldResolver.materializedJson(latest0, col("body"), idents)
    val pred = ast.map(a => Translator.predicate(a, resolver))

    // ONE latest-revision fold for EVERY job this query runs. The eager
    // guard aggregate below and the returned items plan each need the
    // folded latest view; without the persist each pays its own full
    // scan + to_json/parse + shuffle + max_by pass (two folds per query,
    // three with the skip-boundary jobs). The guard aggregate — always
    // the first action — populates the cache; the items/boundary jobs
    // read it. MEMORY_AND_DISK: the cache is one collection's folded
    // working set (bounded by the collection, spills instead of OOM at
    // scale). Released here on the error paths; on the success path the
    // returned rows still read it, so the caller frees it through
    // QueryResult.release once they are consumed (ApplyResult.release is
    // the same contract for applyOps' fold). Measured (sf0.1 orders,
    // same-session A/B):
    // o3-shape 1.12 → 0.77 s, o4-shape 1.34 → 0.79 s.
    val latest = latest1.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def fail(e: Throwable): Nothing = { latest.unpersist(); throw e }

    val rangeCond: Column = itemIdFilter.map { case (op, v) =>
      op match {
        case ">" => col("item_id") > v; case ">=" => col("item_id") >= v
        case "<" => col("item_id") < v; case "<=" => col("item_id") <= v
        case "=" => col("item_id") === v
        // through fail(), not sys.error: this branch sits after the fold
        // persist above, so a bare throw would leak the cache entry
        case other => fail(new RuntimeException(s"bad item_id op: $other"))
      }
    }.getOrElse(lit(true))
    val visNoTomb = col("item_id") =!= "" && !col("is_deleted")

    // ONE aggregation pass gathers the static row (existence / revision /
    // collection tombstone — the reference's cheap static-column read,
    // Db.scala:179-183) AND the guard counts, the latter valid when no
    // collection tombstone exists (the overwhelmingly common case); with
    // a tombstone present the counts are redone below against the
    // visibility cutoff.
    val r = latest.agg(
      max("revision"),
      max(when(col("item_id") === "" && col("is_deleted"), col("revision"))),
      max(when(visNoTomb, col("revision"))),
      count(when(visNoTomb && rangeCond, 1L)),
      count(when(visNoTomb && rangeCond && pred.getOrElse(lit(true)), 1L))
    ).collect()(0)
    val metrics = EngineMetrics(spark)
    metrics.inc("query.selects")
    if (r.isNullAt(0)) {
      metrics.inc("query.not_found"); fail(new NotFound(collectionUri))
    }
    val staticRevision = r.getLong(0)
    val tombRev = if (r.isNullAt(1)) -1L else r.getLong(1)
    val maxLive = if (r.isNullAt(2)) -1L else r.getLong(2)
    if (tombRev >= 0 && maxLive <= tombRev) {
      metrics.inc("query.not_found"); fail(new NotFound(collectionUri))
    }
    if (tombRev < 0) {
      // guard counts from the piggybacked aggregate are exact here: the
      // scanned/accepted/skipped triple costs nothing to publish
      metrics.add("query.rows.scanned", r.getLong(3))
      metrics.add("query.rows.accepted", r.getLong(4))
      metrics.add("query.rows.skipped", r.getLong(3) - r.getLong(4))
    }

    val items = latest.filter(visNoTomb && col("revision") > tombRev)
    val withRange = items.filter(rangeCond)

    val order = Seq(idKey(sort, ascending))
    val served = sort.isEmpty || idSortOnly(sort)

    val filtered0 = pred.fold(withRange)(withRange.filter)
    // resume-key predicates land BELOW the sort: each page is a top-k over
    // the remainder, never a full sort above a limit
    val filtered = extraPredicate.fold(filtered0)(b => filtered0.filter(b(resolver)))

    // the skipMax contract ([[Page.guard]]) in clustering order, on counts
    // piggybacked on the aggregate above; every job it runs reads the
    // CACHED fold — near-free rescans
    if (pred.isDefined && skipMax >= 0) {
      val (total, kept) =
        if (tombRev < 0) (r.getLong(3), r.getLong(4))
        else {
          metrics.inc("query.skip_guard.recount")
          val c = withRange.agg(count(lit(1)), count_if(pred.get)).collect()(0)
          metrics.add("query.rows.scanned", c.getLong(0))
          metrics.add("query.rows.accepted", c.getLong(1))
          metrics.add("query.rows.skipped", c.getLong(0) - c.getLong(1))
          (c.getLong(0), c.getLong(1))
        }
      try Page.guard(withRange, pred.get, total, kept, order, served, size, skipMax)
      catch { case e: Throwable => fail(e) }
    }

    val page = Page.take(filtered, order, served, sort, resolver, size)
    QueryResult(page.drop(helperCols: _*), staticRevision)(
      release = () => { latest.unpersist(); () })
  }

  /** O6 cursor pagination: the page after `lastRow` under the same sort —
    * rows strictly after it in the page's order ([[Page.after]]): the
    * sort fields' normalized keys, then item_id as the final tiebreak. */
  def queryAfter(
      collectionUri: String,
      lastRow: Row,
      filter: Option[String] = None,
      sort: Seq[SortBy] = Nil,
      size: Int = DefaultPageSize,
      ascending: Boolean = true): QueryResult = {
    val lastBody = Option(lastRow.getAs[String]("body")).getOrElse("{}")
    val lastId = lastRow.getAs[String]("item_id")
    // Body-field comparisons go through the NORMALIZED sort key (struct
    // comparison), so numeric boundary values page numerically and text
    // ones lexically — the same ordering the sort itself uses. `sort=id`
    // contributes only the item_id key (as in query()). Built against the
    // resolver query() provides, so the boundary fields read the SAME
    // single-parse materialized columns as the sort keys.
    def after(resolver: FieldResolver): Column = {
      val keyed = sort.filterNot(_.fieldName == "id").map { s =>
        val last = lit(JsonOps.extractText(lastBody, s.fieldName).orNull)
        (Page.Key(sortKey(s, resolver), !s.descending), normKey(last))
      } :+ ((idKey(sort, ascending), lit(lastId)))
      Page.after(keyed.map(_._1), keyed.map(_._2))
    }
    query(collectionUri, filter, sort, size = size, skipMax = -1,
      ascending = ascending, extraPredicate = Some(after))
  }

  /** Apply a batch of write operations (M1-M5). Operations are grouped by
    * document and applied in `seq` order per key — a distributed, per-key
    * serialized fold, mirroring the reference's single-worker-per-URI
    * guarantee. The state side is semi-join-restricted to the batch's URIs
    * and, on a stored log, to their partitions (a dynamic partition filter
    * that reuses the broadcast) below the fold: writing k documents reads
    * the directories of k documents, not the whole store. Returns the
    * appended log, the feed events, and the rejected ops (404/409
    * channel). */
  /** `batchTsMillis` is the DETERMINISTIC event time stamped onto every
    * written row (created_at on first write, modified_at always) — the
    * batch equivalent of the reference's per-write wall clock
    * (db/Db.scala:47-48, scheme.cql:8-9). Streaming callers pass the batch
    * time, like [[Ledger.fromFeed]]; the default keeps batch entries
    * reproducible. Monotonicity across batches is the CALLER's contract:
    * [[asOfTime]] snapshots are only chronological if successive batches
    * pass non-decreasing explicit times (the 0L default collapses every
    * default-stamped batch onto the epoch — fine for revision-based
    * reads and [[asOf]], degenerate for asOfTime). Not enforced here:
    * checking would cost a max-aggregate job over the log per batch. */
  def applyOps(ops: Dataset[WriteOp], batchTsMillis: Long = 0L): ApplyResult = {
    val sess = spark
    import sess.implicits._
    EngineMetrics(spark).inc("write.batches")

    // the length filter holds for every URI: Spark adds a dynamic
    // partition filter only when the broadcast side carries a filter it
    // judges selective (PartitionPruning.hasSelectivePredicate)
    val touched = ops.map(op => splitPath(op.path)._1).distinct()
      .toDF("touched_uri").filter(length(col("touched_uri")) >= 0)
    val latest = Content.latestRows(
        log.join(broadcast(touched),
          col("document_uri") === col("touched_uri") && pruner(col("touched_uri")),
          "left_semi").select(Content.schema.fieldNames.map(col): _*))
      .select(Content.schema.fieldNames.map(col): _*)
      .as[ContentRow]

    val opsByUri = ops.groupByKey(op => splitPath(op.path)._1)
    val stateByUri = latest.groupByKey(_.document_uri)

    // rejection meter: an ACCUMULATOR riding the fold's own execution —
    // rejected ops never reach the feed (so the publish-side meters can't
    // see them) and counting them any other way would schedule a job over
    // `rejected`, which the pipeline never otherwise materializes. Final
    // once the persisted fold materializes (the pipeline's localCheckpoint
    // guarantees that before it reads the value); at-least-once under
    // task retry / cache eviction, like any Spark meter.
    val rejectedAcc = spark.sparkContext.longAccumulator("write.ops.rejected")
    // persisted: the three outputs (log/feed/rejected) would otherwise each
    // replay the whole per-key fold on every action
    val applied: Dataset[ApplyOutcome] =
      opsByUri.cogroup(stateByUri) { (uri, opIt, stateIt) =>
        applyForDocument(uri, opIt.toSeq.sortBy(_.seq), stateIt.toSeq,
          batchTsMillis).map { o =>
          if (o.rejected.isDefined) rejectedAcc.add(1L)
          o
        }
      }.persist()

    val newRows = applied.flatMap(_.row).toDF()
      .select(Content.schema.fieldNames.map(col): _*)
    val feed = applied.flatMap(_.feed).toDF()
    val rejected = applied.flatMap(_.rejected).toDF()
    // storage-layer columns (ContentStore's `part`) are dropped from the
    // merged logical log; the store recomputes them on write-back
    ApplyResult(log.select(Content.schema.fieldNames.map(col): _*)
      .unionByName(newRows), feed, rejected,
      release = () => { applied.unpersist(); () },
      appended = newRows,
      rejectedCount = () => rejectedAcc.value)
  }

  /** Local convenience for small batches (tests / single-doc API). */
  def applySeq(ops: Seq[WriteOp], batchTsMillis: Long = 0L): ApplyResult = {
    val sess = spark
    import sess.implicits._
    applyOps(sess.createDataset(ops), batchTsMillis)
  }
}

object HyperStorage {
  val DefaultPageSize = 100            // HyperbusAdapter.scala:35
  val DefaultMaxSkippedRows = 10000    // HyperbusAdapter.scala:33

  def apply(spark: SparkSession, log: DataFrame): HyperStorage =
    new HyperStorage(spark, log)

  /** Path split (reference ContentLogic.scala:13-40): a collection URI ends
    * with `~`; an item path is `collection~/itemId`; a plain document is
    * (path, ""). */
  def splitPath(path: String): (String, String) = {
    val idx = path.lastIndexOf('/')
    if (idx > 0 && path.substring(0, idx).endsWith("~"))
      (path.substring(0, idx), path.substring(idx + 1))
    else (path, "")
  }

  def isCollectionUri(path: String): Boolean = path.endsWith("~")

  private def idSortOnly(sort: Seq[SortBy]): Boolean =
    sort.size == 1 && sort.head.fieldName == "id"

  /** The primary source's clustering order. `sort=id` maps to the
    * physical item_id column (lexical, like the reference's text-typed id
    * — NOT the JSON normKey, which would order numeric-looking ids
    * numerically), and its direction is the scan direction; any other
    * sort scans in `ascending` direction. */
  private def idKey(sort: Seq[SortBy], ascending: Boolean): Page.Key =
    Page.Key(col("item_id"), if (idSortOnly(sort)) !sort.head.descending else ascending)

  /** Normalized sort key for the reference's dynamic-type rule
    * (CollectionOrdering, HyperbusAdapter.scala:341-376): numbers compare
    * as decimals when both sides are numeric, otherwise text
    * (numeric-castable values order before text within a field; missing
    * field ⇒ sorts LAST ascending / first descending — pinned by
    * CollectionOrderingSpec). */
  def sortKey(s: SortBy, resolver: FieldResolver): Column =
    normKey(resolver.resolve(graft.hql.Ident(s.fieldName)).getOrElse(lit(null)))

  /** Normalized orderable key of a raw (JSON-text) value. */
  def normKey(raw: Column): Column = {
    val dec = raw.cast(StringType).try_cast(DecimalType(38, 18))
    struct(
      when(raw.isNull, 2).when(dec.isNotNull, 0).otherwise(1).as("t"),
      dec.as("d"),
      raw.cast(StringType).as("s"))
  }

  def sortColumn(s: SortBy, resolver: FieldResolver): Column = {
    val key = sortKey(s, resolver)
    if (s.descending) key.desc else key.asc
  }

  /** Top-k with the sort keys MATERIALIZED into columns first:
    * TakeOrderedAndProject evaluates its SortOrder expressions per heap
    * COMPARISON, so ordering directly on the JSON-extracting key struct
    * costs O(n log k) JSON parses; projecting the keys once per row keeps
    * the comparator on plain column references. */
  def sortAndLimit(df: DataFrame, sort: Seq[SortBy], resolver: FieldResolver,
      idOrder: Column, size: Int): DataFrame = {
    val keyed = df.select(col("*") +:
      sort.zipWithIndex.map { case (s, i) => sortKey(s, resolver).as(s"__sk$i") }: _*)
    val order = sort.zipWithIndex.map { case (s, i) =>
      if (s.descending) col(s"__sk$i").desc else col(s"__sk$i").asc
    } :+ idOrder
    keyed.orderBy(order: _*).limit(size)
      .drop(sort.indices.map(i => s"__sk$i"): _*)
  }

  implicit val writeOpEncoder: Encoder[WriteOp] = Encoders.product[WriteOp]

  /** Sequentially fold one document's ops over its current items —
    * the reference's PrimaryWorker.updateResource semantics, including the
    * error taxonomy: 409 collection PUT (PrimaryWorker.scala:241-270),
    * 404 PATCH/DELETE of an absent resource (:272-278), collection DELETE
    * tombstoning the whole collection (:310-328). */
  private[engine] def applyForDocument(
      uri: String, ops: Seq[WriteOp], state: Seq[ContentRow],
      batchTsMillis: Long = 0L): Iterator[ApplyOutcome] = {
    val batchTs = new java.sql.Timestamp(batchTsMillis)
    val isCollection = isCollectionUri(uri)
    var items: Map[String, ContentRow] =
      state.filter(_.item_id.nonEmpty).map(r => r.item_id -> r).toMap
    var docRow: Option[ContentRow] = state.find(_.item_id.isEmpty)
    var collTombRev: Long =
      docRow.filter(_.is_deleted).map(_.revision).getOrElse(-1L)
    var staticRevision: Long = (state.map(_.revision) :+ 0L).max
    val out = Seq.newBuilder[ApplyOutcome]

    def visibleItem(id: String): Option[ContentRow] =
      if (id.isEmpty) docRow.filterNot(_.is_deleted)
      else items.get(id).filterNot(_.is_deleted)
        .filter(r => !isCollection || r.revision > collTombRev)

    def hasVisibleItems: Boolean =
      items.values.exists(r => !r.is_deleted && r.revision > collTombRev)

    ops.foreach { op =>
      val (u, itemIdRaw) = splitPath(op.path)
      require(u == uri, s"op for $u routed to $uri")

      def reject(code: String): Unit =
        out += ApplyOutcome(None, None,
          Some(RejectedOp(op.seq, op.path, op.method, code)))

      def emit(itemId: String, body: String, deleted: Boolean, feedMethod: String): Unit = {
        val rev = staticRevision + 1
        // created_at survives every rewrite of the same item (tombstones
        // included — the reference keeps the Cassandra row's createdAt,
        // Db.scala:47-48); modified_at is the batch event time
        val created = (if (itemId.isEmpty) docRow else items.get(itemId))
          .flatMap(r => Option(r.created_at)).getOrElse(batchTs)
        val row = ContentRow(uri, itemId, rev, body, deleted, created, batchTs)
        if (itemId.isEmpty) docRow = Some(row) else items += itemId -> row
        staticRevision = rev
        out += ApplyOutcome(Some(row),
          Some(FeedEvent(uri, itemId, s"feed:$feedMethod", rev, body)), None)
      }

      // POST → PUT rewrite with a generated increasing id
      // (PrimaryWorker.scala:76-91): the revision the item is stamped
      // with, zero-padded so ids order like revisions. Revisions are
      // unique and increasing per collection across batches, unlike the
      // caller's seq, which only orders the ops of one batch.
      val (method, itemId) = op.method.toUpperCase match {
        case "POST" if isCollection && itemIdRaw.isEmpty =>
          ("PUT", f"${staticRevision + 1}%019d")
        case m => (m, itemIdRaw)
      }

      method match {
        case "PUT" if isCollection && itemId.isEmpty =>
          // reference 409 collection-put-not-implemented
          reject("collection-put-not-implemented")
        case "PUT" =>
          val stripped = JsonOps.stripNulls(op.body)
          val body =
            if (isCollection) JsonOps.appendId(stripped, itemId) else stripped
          emit(itemId, body, deleted = false, "put")
        case "PATCH" =>
          visibleItem(itemId) match {
            case None => reject("not-found") // 404 (PrimaryWorker.scala:272-278)
            case Some(ex) =>
              JsonOps.mergePatch(Option(ex.body).getOrElse("{}"), op.body) match {
                case Some(merged) =>
                  val body =
                    if (isCollection && itemId.nonEmpty) JsonOps.appendId(merged, itemId)
                    else merged
                  emit(itemId, body, deleted = false, "patch")
                case None =>
                  emit(itemId, null, deleted = true, "patch")
              }
          }
        case "DELETE" if isCollection && itemId.isEmpty =>
          // collection delete: one static tombstone hides all items with
          // revision <= tombstone revision (PrimaryWorker.scala:310-328)
          if (!hasVisibleItems && docRow.forall(_.is_deleted)) reject("not-found")
          else {
            emit("", null, deleted = true, "delete")
            collTombRev = staticRevision
          }
        case "DELETE" =>
          visibleItem(itemId) match {
            case None => reject("not-found")
            case Some(_) => emit(itemId, null, deleted = true, "delete")
          }
        case "POST" => reject("method-not-allowed") // POST to a non-collection
        case other => reject(s"unsupported-method: $other")
      }
    }
    out.result().iterator
  }
}
