package graft.indexing

import graft.engine.{Conflict, Content, HyperStorage, NotFound, Page, QueryResult,
  SortBy}
import graft.hql._
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}

/** Index definition (reference db.IndexDef / scheme.cql:31-40). */
final case class IndexDef(
    collectionUri: String, indexId: String,
    sortBy: Seq[IndexSortItem], filterBy: Option[String],
    status: String, tableName: String)

/** One committed index version: its rows and the collection revision they
  * reflect — the revision of the latest content-log row the build read,
  * raised by every feed batch merged since. */
final case class IndexVersion(rows: DataFrame, revision: Long)

object IndexDef {
  val StatusIndexing = "INDEXING"
  val StatusNormal = "NORMAL"
  val StatusDeleting = "DELETING"
}

/** Materialized secondary indexes over a HyperStorage collection — the
  * reference's flagship feature re-expressed as sorted, filtered,
  * pre-projected DataFrames.
  *
  * - M6 build: `source.filter(filterBy).select(sortCols…)` materialized in
  *   one batch job (the reference pages in 256-item buckets because
  *   Cassandra scans are cursor-based, IndexContentTaskWorker.scala:39-90;
  *   a Spark scan is already distributed + restartable). Status flips
  *   INDEXING→NORMAL on completion; queries use NORMAL indexes only
  *   (HyperbusAdapter.scala:152).
  * - M7 delete: status DELETING, then drop (IndexDefTaskWorker.scala:112-135).
  * - M8 incremental maintenance: per feed batch, touched items' index rows
  *   are recomputed — delete-obsolete + reinsert-if-member
  *   (PrimaryWorker.scala:183-215, BackgroundContentTaskCompleter:126-188).
  * - F7 membership: the filterBy expression decides if an item belongs.
  *
  * The sort-field columns are extracted ONCE at build/maintenance time
  * into typed columns (text / decimal(38,18)) — scans sort and push
  * predicates on native columns, no per-row JSON parsing.
  *
  * Defs and tables live in one [[IndexStore]] (manifest-committed parquet):
  * a restarted manager over the same store path sees every NORMAL index,
  * and maintenance is a partition-scoped on-disk merge (bounded lineage).
  * Passing no store selects only WHERE they live, never a different code
  * path: a fresh store in a uniquely named directory under the driver's
  * per-context temp dir, which stopping the SparkContext deletes. That
  * default is local-mode only (cluster executors cannot see a driver-local
  * directory), so a cluster deployment passes a store on shared storage. */
final class IndexManager(val storage: HyperStorage,
    indexStore: Option[IndexStore] = None) {
  import IndexDef._

  private val store: IndexStore = indexStore.getOrElse {
    val sc = storage.spark.sparkContext
    require(sc.isLocal, "the default index store is a driver-local directory; " +
      "outside local mode pass an IndexStore on storage every executor can read")
    new IndexStore(storage.spark, java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(Bridge.driverTmpDir), "index-store-").toString)
  }

  private var defs: Map[(String, String), IndexDef] = store.loadDefs()

  // finish interrupted deletes on load: a DELETING def whose drop crashed
  // would otherwise block re-creation of the id forever (409 on retry)
  for (d <- defs.values.toSeq if d.status == StatusDeleting) {
    store.dropTable(d.collectionUri, d.indexId)
    defs -= ((d.collectionUri, d.indexId))
    store.saveDefs(defs.values)
  }

  def indexDefs(uri: String): Seq[IndexDef] =
    defs.values.filter(_.collectionUri == uri).toSeq.sortBy(_.indexId)

  def indexDef(uri: String, indexId: String): Option[IndexDef] =
    defs.get((uri, indexId))

  /** The committed version of a NORMAL index, re-opened per call (one
    * manifest read: rows and revision of one version). */
  def indexVersion(uri: String, indexId: String): Option[IndexVersion] =
    defs.get((uri, indexId)).filter(_.status == StatusNormal)
      .map(_ => store.openVersion(uri, indexId))

  def indexTable(uri: String, indexId: String): Option[DataFrame] =
    indexVersion(uri, indexId).map(_.rows)

  /** Typed sort-column expressions for a body column. */
  private def sortCols(sortBy: Seq[IndexSortItem], body: Column): Seq[Column] = {
    val size = sortBy.size
    sortBy.zipWithIndex.flatMap { case (item, i) =>
      val name = IndexLogic.tableFieldName(item, size, i)
      if (name == "item_id") None // already a physical column
      else {
        val raw = get_json_object(body, "$." + item.fieldName)
        val typed = if (item.isDecimal) raw.try_cast(DecimalType(38, 18))
          else raw.cast(StringType)
        Some(typed.as(name))
      }
    }
  }

  /** Project collection items into index-row shape (item_id, revision,
    * body, typed sort cols), applying the membership filter (F7). */
  private def materialize(items: DataFrame, d: IndexDef): DataFrame = {
    val resolver = FieldResolver.json(col("body"))
    val member = d.filterBy match {
      case Some(f) => items.filter(Translator.predicate(f, resolver))
      case None => items
    }
    member.select(
      Seq(col("item_id"), col("revision"), col("body")) ++
        sortCols(d.sortBy, col("body")): _*)
  }

  /** M6: create + background-build an index; 409 on duplicate id
    * (IndexDefTaskWorker.scala:71-110). */
  def createIndex(
      uri: String, indexId: String,
      sortBy: Seq[IndexSortItem] = Nil,
      filterBy: Option[String] = None): IndexDef = {
    if (defs.contains((uri, indexId)))
      throw new Conflict(s"index-already-exists: $uri/$indexId")
    filterBy.foreach { f =>
      if (!AstComparator.validate(f))
        throw new IllegalArgumentException(s"invalid filter: $f")
    }
    val indexing = IndexDef(uri, indexId, sortBy, filterBy,
      StatusIndexing, IndexLogic.tableName(sortBy))
    defs += (uri, indexId) -> indexing
    // durable: record the INDEXING def BEFORE building, so a crash leaves
    // a resumable pending build (reference pending_index semantics)
    store.saveDefs(defs.values)
    try {
      // the collection's per-URI scan, like every per-URI read: a
      // ContentStore-backed build reads one directory partition, whose
      // bytes set the index table's part count. The collection revision
      // the index reflects is observed on that scan by the build job
      // itself: no separate job over the content log
      val scan = storage.uriScan(uri)
      val scanned = new Observation()
      val items = Content.visible(
          Content.latestRows(scan.observe(scanned, max("revision").as("revision"))))
        .filter(col("item_id") =!= "")
      val built = materialize(items, indexing)
      // read only after the build job ran (get blocks until then); a scan
      // with no rows (or one the optimizer proved empty) reports none
      def revision: Long = scanned.get.get("revision") match {
        case Some(r: Long) => r
        case _ => 0L
      }
      store.writeTable(uri, indexId, built, revision, storage.uriBytes(uri))
      val normal = indexing.copy(status = StatusNormal)
      defs += (uri, indexId) -> normal
      store.saveDefs(defs.values)
      normal
    } catch {
      case e: Throwable =>
        defs -= ((uri, indexId)) // failed build leaves no phantom def
        store.dropTable(uri, indexId)
        store.saveDefs(defs.values)
        throw e
    }
  }

  /** Resume every interrupted build (status INDEXING after a restart) —
    * the reference's PendingIndexWorker.scala:24-85 loop. A resume attempt
    * that fails TRANSIENTLY restores the pending def (the accepted build
    * is not silently discarded) and the loop continues with the rest. */
  def resumePendingBuilds(): Seq[IndexDef] =
    defs.values.filter(_.status == StatusIndexing).toSeq.flatMap { d =>
      val key = (d.collectionUri, d.indexId)
      defs -= key
      try Some(createIndex(d.collectionUri, d.indexId, d.sortBy, d.filterBy))
      catch {
        case scala.util.control.NonFatal(_) =>
          defs += key -> d
          store.saveDefs(defs.values)
          None
      }
    }

  /** M7: delete an index. */
  def deleteIndex(uri: String, indexId: String): Unit = {
    val d = defs.getOrElse((uri, indexId),
      throw new NotFound(s"index: $uri/$indexId"))
    defs += (uri, indexId) -> d.copy(status = StatusDeleting)
    store.saveDefs(defs.values) // DELETING survives a crash mid-drop
    store.dropTable(uri, indexId)
    defs -= ((uri, indexId))
    store.saveDefs(defs.values)
  }

  /** Collection-delete cascade (M3): drop all indexes of the collection
    * (PrimaryWorker.scala:310-328; IndexingSpec.scala:655-692). */
  def dropCollectionIndexes(uri: String): Unit =
    indexDefs(uri).foreach(d => deleteIndex(uri, d.indexId))

  /** M8: incremental maintenance from a feed batch — for every touched
    * item: drop its old index rows, re-insert if it (still) passes the
    * membership filter with its new sort-field values.
    *
    * The feed is first semi-joined against the (small, driver-held) def
    * list, so a 100 TB-scale batch spanning millions of collections never
    * ships its URI set to the driver — only URIs that actually carry an
    * index (bounded by the def count) are ever collected. */
  def applyFeed(feed: DataFrame): Unit = {
    if (defs.isEmpty) return
    val spark0 = storage.spark
    import spark0.implicits._
    val indexedUris = defs.values.map(_.collectionUri).toSet.toSeq
    val relevant = feed
      .join(broadcast(indexedUris.toDF("document_uri")),
        Seq("document_uri"), "left_semi")
      .persist()
    try {
      // one job answers every driver-side question (result bounded by
      // defs.size): which indexed collections the batch touches, which
      // carry a collection-level tombstone (item_id = "") — those cascade
      // to a full index drop (PrimaryWorker.scala:310-328;
      // IndexingSpec.scala:655-692) — which logical item-hash parts each
      // touches, and the collection revision each reaches
      val uriStats = relevant.groupBy("document_uri")
        .agg(
          max(col("item_id") === "" && col("method") === "feed:delete")
            .as("coll_deleted"),
          collect_set(when(col("item_id") =!= "",
            IndexStore.ipartCol(col("item_id")))).as("iparts"),
          max("revision"))
        .collect()
      val touchedUris = uriStats.map(_.getString(0)).toSet
      val touchedParts = uriStats
        .map(r => r.getString(0) -> r.getSeq[Int](2)).toMap
      val batchRevision = uriStats.map(r => r.getString(0) -> r.getLong(3)).toMap
      val deletedCollections =
        uriStats.filter(_.getBoolean(1)).map(_.getString(0)).toSet
      deletedCollections.foreach(dropCollectionIndexes)
      for (((uri, id), d) <- defs if touchedUris(uri) && d.status == StatusNormal) {
        val events = relevant.filter(
          col("document_uri") === uri && col("item_id") =!= "")
        // last event per item wins inside the batch
        val latest = Content.latestRows(
          events.select(col("document_uri"), col("item_id"), col("revision"),
            col("body"),
            (col("method") === "feed:delete" || col("body").isNull).as("is_deleted")))
        val touchedItems = latest.select("item_id").distinct()
        val replacement = materialize(
          latest.filter(!col("is_deleted")).select("item_id", "revision", "body"), d)
        // partition-scoped on-disk merge; lineage ends at the parquet
        store.mergeTable(uri, id, touchedItems, replacement,
          batchRevision(uri), touchedParts(uri))
      }
    } finally {
      relevant.unpersist()
      ()
    }
  }
}

/** Chosen physical access path for a query (the de-facto EXPLAIN the
  * reference asserts via db-spy, QueryCollectionsSpec.scala:80-309). */
final case class QueryPlan(
    source: String, // "primary" or the index id
    weight: Int,
    pushdown: Seq[FieldFilter],
    ckFields: Seq[CkField],
    reversed: Boolean,
    exactSortMatch: Boolean)

/** Index selection + index-served queries (reference
  * HyperbusAdapter.scala:148-219). */
object QueryPlanner {

  /** The implicit trailing clustering key: every source ends with `id asc`
    * (HyperbusAdapter.scala:148 `defIdSort`). */
  private val DefIdSort = IndexSortItem("id", Some("text"), Some("asc"))

  /** Weigh every NORMAL index + the primary source, pick the max — exact
    * mirror of HyperbusAdapter.scala:146-170 including the implicit `id`
    * sort item appended to every source and reduceLeft tie-breaking (the
    * LAST max-weight source wins; primary is last). */
  def plan(im: IndexManager, uri: String,
      filter: Option[String], sort: Seq[SortBy]): QueryPlan = {
    val ast = filter.map(HqlParser(_))
    val sources: Seq[(Int, Seq[IndexSortItem], Option[IndexDef])] =
      im.indexDefs(uri).filter(_.status == IndexDef.StatusNormal).map { d =>
        val indexSortBy = d.sortBy :+ DefIdSort
        (IndexLogic.weighIndex(ast, sort, d.filterBy.map(HqlParser(_)), indexSortBy),
          indexSortBy, Some(d))
      } :+ ((IndexLogic.weighIndex(ast, sort, None, Seq(DefIdSort)),
        Seq(DefIdSort), None))
    val (weight, indexSortFields, defOpt) =
      sources.reduceLeft((l, r) => if (l._1 > r._1) l else r)
    val size = indexSortFields.size
    val physical = indexSortFields.zipWithIndex.map { case (it, i) =>
      SortField(it.fieldName, IndexLogic.tableFieldName(it, size, i))
    }
    val pushdown = ast.map(new FieldFiltersExtractor(physical).extract(_))
      .getOrElse(Nil)
    val (ck, reversed) = IndexLogic.extractIndexSortFields(sort, indexSortFields)
    val exact = ck.size == sort.size || sort.isEmpty
    QueryPlan(defOpt.map(_.indexId).getOrElse("primary"), weight,
      pushdown, ck, reversed, exact)
  }

  /** The order an index-served page comes in, which is also the order its
    * skipped-rows guard scans. For a plan that [[servedInIndexOrder]] with
    * a requested sort: the matched clustering prefix, then item_id — typed
    * columns, no per-row JSON work; a text column orders lexically, like
    * the reference's index scans over the storage column's native order.
    * Otherwise: the index's clustering columns in declared direction, then
    * item_id asc — with no requested sort, exactly what the reference's
    * source scan returns. A key that already ends in item_id (a sort by
    * `id`) names it once: the guard projects the order's columns. */
  private def indexOrder(p: QueryPlan, d: IndexDef, sort: Seq[SortBy]): Seq[Page.Key] = {
    val keys =
      if (servedInIndexOrder(p, sort) && p.ckFields.nonEmpty)
        p.ckFields.map(ck => (ck.name, ck.ascending)) :+ (("item_id", !p.reversed))
      else {
        val n = d.sortBy.size
        d.sortBy.zipWithIndex.map { case (it, i) =>
          (IndexLogic.tableFieldName(it, n, i), !it.isDesc)
        } :+ (("item_id", true))
      }
    keys.distinctBy(_._1).map { case (name, asc) => Page.Key(col(name), asc) }
  }

  /** The index returns rows in the requested order by itself: no sort was
    * requested, or the clustering key serves the requested sort exactly.
    * An empty sort never yields clustering-key fields. */
  private def servedInIndexOrder(p: QueryPlan, sort: Seq[SortBy]): Boolean =
    sort.isEmpty || (p.exactSortMatch && p.ckFields.nonEmpty)

  private def filterColumn(ff: FieldFilter): Column = {
    val c = col(ff.name)
    val v = Translator.constColumn(ff.value)
    ff.op match {
      case FilterEq => c === v
      case FilterGt => c > v
      case FilterGtEq => c >= v
      case FilterLt => c < v
      case FilterLtEq => c <= v
    }
  }

  /** Null-aware comparisons for RESUME filters only. The index scan places
    * nulls (missing sort fields) LAST on an effectively-ascending column
    * (asc_nulls_last) and FIRST on a descending one, and the resume ops
    * already encode the walk direction (FilterGt ⟺ ascending walk). Plain
    * SQL comparisons are null-hostile both ways — a null column never
    * matches `> v`, and a null BOUNDARY (the cursor row missing the field)
    * kills the whole chain — so a cursor walk would silently lose the
    * null region (caught by CursorWalkSpec). Mapping:
    *   - EQ: null boundary pins the null region (`IS NULL`), else `===`
    *   - GT (toward nulls-last): null col comes after every value
    *     (`> v OR IS NULL`); after a null boundary nothing follows by this
    *     field (false — the EQ+tiebreak set walks inside the region)
    *   - LT (toward nulls-first): nulls precede every value, so after a
    *     null boundary comes everything non-null (`IS NOT NULL`); after a
    *     non-null boundary plain `< v` (nulls already emitted). */
  private def resumeFilterColumn(ff: FieldFilter): Column = {
    val c = col(ff.name)
    val vNull = ff.value == HNull
    ff.op match {
      case FilterEq => if (vNull) c.isNull else c === Translator.constColumn(ff.value)
      case FilterGt =>
        if (vNull) lit(false) else c > Translator.constColumn(ff.value) || c.isNull
      case FilterLt =>
        if (vNull) c.isNotNull else c < Translator.constColumn(ff.value)
      case _ => filterColumn(ff) // merged query pushdowns keep plain semantics
    }
  }

  /** Execute a collection query through the chosen source: pushdown
    * FieldFilters land on typed index columns (native Catalyst filters,
    * parquet-pushable — F3 wired); the FULL residual filter is always
    * re-applied (HyperbusAdapter.scala:235-244); the page ([[Page.take]])
    * is in index order when the sort matches exactly, else a residual
    * in-memory order (:181-197). Returns the plan alongside the rows.
    *
    * The skipped-rows guard ([[Page.guard]]) applies REGARDLESS of chosen
    * source — the reference raises query-skipped-rows-limited from the
    * shared fetch loop (HyperbusAdapter.scala:278-283) — in the page's
    * order. Rows the index pre-filtered away (its filterBy) never count:
    * they are not scanned. */
  def query(im: IndexManager, uri: String,
      filter: Option[String] = None, sort: Seq[SortBy] = Nil,
      size: Int = HyperStorage.DefaultPageSize,
      skipMax: Int = HyperStorage.DefaultMaxSkippedRows): (QueryPlan, QueryResult) = {
    val p = plan(im, uri, filter, sort)
    // the planner decision is the per-query EXPLAIN (returned as p); the
    // metrics registry keeps the reference-style running meters of it
    val metrics = graft.engine.EngineMetrics(im.storage.spark)
    metrics.inc("planner.selects")
    metrics.inc(s"planner.source.${p.source}")
    metrics.add("planner.pushdown.filters", p.pushdown.size.toLong)
    if (p.source == "primary") {
      (p, im.storage.query(uri, filter, sort, size, skipMax = skipMax))
    } else {
      val d = im.indexDef(uri, p.source).get
      val version = im.indexVersion(uri, p.source).get
      val resolver = FieldResolver.json(col("body"))
      val pushed = p.pushdown.foldLeft(version.rows)((df, ff) => df.filter(filterColumn(ff)))
      val residualPred = filter.map(f => Translator.predicate(f, resolver))
      val residual = residualPred.fold(pushed)(pushed.filter)
      val order = indexOrder(p, d, sort)
      val served = servedInIndexOrder(p, sort)
      for (pred <- residualPred if skipMax >= 0) {
        val c = pushed.agg(count(lit(1)), count_if(coalesce(pred, lit(false)))).collect()(0)
        val (total, kept) = (c.getLong(0), c.getLong(1))
        metrics.add("index.rows.scanned", total)
        metrics.add("index.rows.accepted", kept)
        metrics.add("index.rows.skipped", total - kept)
        Page.guard(pushed, pred, total, kept, order, served, size, skipMax)
      }
      (p, QueryResult(Page.take(residual, order, served, sort, resolver, size),
        version.revision)())
    }
  }

  /** O6 cursor pagination THROUGH the chosen index (reference
    * HyperbusAdapter.scala:268-309): the page after `lastRow` under the
    * same filter/sort, resumed with typed-column filters generated by the
    * ported [[IndexLogic.leastRowsFilterFields]] — EQ on the clustering
    * prefix + GT/LT on the boundary field, from the last row's body.
    *
    * The reference's fetch loop issues one Cassandra clustering scan per
    * resume prefix, shortening the prefix each time a sub-scan exhausts
    * (`prevFilterFieldsSize`/`prevFilterReachedEnd` drive the recursion).
    * Here the same generator runs to fixpoint up front and the union of
    * its prefix scans becomes ONE disjunctive predicate over the typed
    * index columns — a single pushdown-friendly distributed scan instead
    * of a driver-side multi-select loop, returning identical rows in
    * identical order.
    *
    * Falls back to the primary path when the planner picks the primary
    * source or the index cannot serve the requested sort (the same
    * queries `query()` would serve residually). Like the primary
    * [[HyperStorage.queryAfter]], pages after the first skip the
    * skipped-rows guard. */
  def queryAfter(im: IndexManager, uri: String,
      lastRow: org.apache.spark.sql.Row,
      filter: Option[String] = None, sort: Seq[SortBy] = Nil,
      size: Int = HyperStorage.DefaultPageSize): (QueryPlan, QueryResult) = {
    val p = plan(im, uri, filter, sort)
    if (p.source == "primary" || !servedInIndexOrder(p, sort))
      (p, im.storage.queryAfter(uri, lastRow, filter, sort, size))
    else {
      val d = im.indexDef(uri, p.source).get
      val version = im.indexVersion(uri, p.source).get
      val table = version.rows
      val indexSortBy = d.sortBy :+ DefIdSort
      val lastBody = Option(lastRow.getAs[String]("body")).getOrElse("{}")
      // run the reference's shrinking-prefix recursion to fixpoint:
      // least(0) = boundary on the last clustering field; each next set
      // re-enters with the MERGED previous size (mergeLeast keeps the
      // query's EQ pushdowns — the generator's startIndex/lastIndex
      // arithmetic is defined against that merged length) until empty
      val resumeSets = Iterator.iterate(
          IndexLogic.leastRowsFilterFields(
            indexSortBy, p.pushdown, 0, prevFilterReachedEnd = false,
            lastBody, p.reversed)) { prev =>
          val mergedSize =
            IndexLogic.mergeLeastQueryFilterFields(p.pushdown, prev).size
          IndexLogic.leastRowsFilterFields(
            indexSortBy, p.pushdown, mergedSize, prevFilterReachedEnd = true,
            lastBody, p.reversed)
        }.takeWhile(_.nonEmpty).toSeq
      if (resumeSets.isEmpty) {
        // boundary already at/past the query's own range end — no page 2
        (p, QueryResult(table.filter(lit(false)), version.revision)())
      } else {
        val afterPred = resumeSets.map { s =>
          IndexLogic.mergeLeastQueryFilterFields(p.pushdown, s)
            .map(resumeFilterColumn).reduce(_ && _)
        }.reduce(_ || _)
        val resolver = FieldResolver.json(col("body"))
        val pushed = table.filter(afterPred)
        // full residual re-applied, exactly like query(): the merged
        // resume filters deliberately DROP the query's range pushdowns
        // (IndexLogic.scala:184-191) — the residual restores the range
        // end; the generator's reachedEnd check stops the page chain
        val residual = filter.map(f =>
          Translator.predicate(f, resolver)).fold(pushed)(pushed.filter)
        (p, QueryResult(Page.take(residual, indexOrder(p, d, sort),
          served = true, sort, resolver, size), version.revision)())
      }
    }
  }
}
