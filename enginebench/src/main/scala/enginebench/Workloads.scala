package enginebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import graft.engine.{ContentRow, ContentStore, EngineMetrics, FeedEvent, GraftError,
  HyperStorage, QueryResult, SortBy, WriteOp}
import graft.hql.{FieldResolver, HqlParser, Translator}
import graft.indexing.{IndexManager, IndexSortItem, IndexStore, QueryPlanner}
import graft.streaming.FeedPipeline
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The span set around one read: its kind prefix and the source the
  * planner picked ("?" when the run is not traced). */
final case class Span(prefix: String, source: String) {
  def primary: Boolean = source == "primary"
  def name(part: String, op: Int): String = s"$prefix.$part@$source#$op"
}

final case class Config(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, cores: Int)

/** A collection query: the filter, sort and page size, the skipped-rows
  * limit, whether a cursor page follows, and whether the operation hits
  * the or-widening fault (its mismatch counts as failed, not incorrect). */
final case class QuerySpec(uri: String, filter: Option[Pred], sort: Seq[Sort],
    size: Int, skipMax: Int, page: Boolean = false, knownFault: Boolean = false) {
  def filterText: Option[String] = filter.map(_.render)
  def sortBy: Seq[SortBy] = sort.map(s => SortBy(s.field, s.desc))
}

/** Feed events the sink received; the sink runs in executor threads of
  * this JVM (local mode). */
object Sink {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[FeedEvent]()
  def send(e: FeedEvent): Unit = { events.add(e); () }
  def drain(): Vector[FeedEvent] = {
    val b = Vector.newBuilder[FeedEvent]
    var e = events.poll()
    while (e != null) { b += e; e = events.poll() }
    b.result()
  }
}

/** Runs one workload: a JVM warm-up on a separate small store (set-up and
  * every kind of operation once), repeated timed set-ups of the measured
  * store, then whole rounds of operations on it until the window has
  * passed.
  * Every operation is timed, its span set for the recorder, and its result
  * compared with the model. */
final class Bench(spark: SparkSession, cfg: Config, rec: Recorder) {
  private val sc = spark.sparkContext

  /** The store every workload loads. */
  val shape = StoreShape(largeItems = 10000, smallCount = 24, smallMin = 100, smallMax = 300)
  /** The separate small store the JVM warm-up runs on. */
  val warmShape = StoreShape(largeItems = 1000, smallCount = 4, smallMin = 100, smallMax = 300)
  val SetupRepeats = 2
  val BatchesPerCompaction = 2
  val NoSkipLimit = 1000000

  // ---------------------------------------------------------------- results

  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val attempted = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
  val failed = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
  val mismatches = mutable.ArrayBuffer.empty[String]
  /** Traced-run extras: named samples (µs or ms) and counters. */
  val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Wall and CPU seconds of each timed set-up. */
  var setupSeconds: Seq[Double] = Nil
  var setupCpuSeconds: Seq[Double] = Nil
  /** The window's Spark work, copied before the final check runs. */
  var window: Map[(String, String), Work] = Map.empty
  /** JSON body bytes loaded and written into the measured store. */
  var inputBytes = 0L
  var batchWrites = 0L
  private var recording = false
  /** JVM counters and host steal ticks at the window's edges. */
  var jvm: (JvmSample, JvmSample) = (JvmSample.now(), JvmSample.now())
  var steal: (Option[(Long, Long)], Option[(Long, Long)]) = (None, None)

  private def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  private def count(name: String, v: Double = 1.0): Unit = counts(name) += v

  private def clock[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Operation ids tag every span of one operation (`q.call@by_price#17`),
    * so the recorder's task CPU can be charged to single operations. */
  private var opId = 0
  private val opKind = mutable.Map.empty[Int, String]
  private val opCallerCpuMs = mutable.Map.empty[Int, Double]
  private val threads = ManagementFactory.getThreadMXBean

  /** Run and time one operation of type `kind`; `body` gets its id. The
    * calling thread's CPU time (planning, collecting results) is kept for
    * the operation's CPU cost. */
  private def operation[T](kind: String)(body: Int => T): T = {
    opId += 1
    val id = opId
    val cpu0 = threads.getCurrentThreadCpuTime
    val (r, ms) = clock(body(id))
    if (recording) {
      latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
      attempted(kind) += 1
      opKind(id) = kind
      opCallerCpuMs(id) = (threads.getCurrentThreadCpuTime - cpu0) / 1e6
    }
    r
  }

  /** CPU time of every operation of the window, by type: the calling
    * thread's CPU plus the executor CPU of the tasks its spans launched.
    * Neither counts time the host steals from the VM. */
  def operationCpuMs: Map[String, Seq[Double]] = {
    val tasks = window.toSeq.flatMap { case ((span, _), w) => Spans.op(span).map(_ -> w.cpuMs) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    opKind.toSeq.sortBy(_._1).map { case (id, kind) =>
      kind -> (opCallerCpuMs(id) + tasks.getOrElse(id, 0.0))
    }.groupMap(_._1)(_._2)
  }

  private def check(kind: String, ok: Boolean, knownFault: Boolean, what: => String): Unit =
    if (!ok) {
      if (knownFault) { if (recording) failed(kind) += 1 }
      else mismatches += s"$kind: $what"
    }

  // ---------------------------------------------------------------- set-up

  private def rows(docs: Map[String, Vector[Doc]]): Seq[ContentRow] = {
    val ts = new java.sql.Timestamp(0L)
    docs.toSeq.sortBy(_._1).flatMap { case (uri, ds) =>
      ds.zipWithIndex.map { case (d, i) => ContentRow(uri, d.id, i + 1L, d.json, false, ts, ts) }
    }
  }

  val indexDefs: Seq[(String, Seq[IndexSortItem], Option[String])] = Seq(
    ("by_price", Seq(IndexSortItem("price", Some("decimal"), Some("asc"))), None),
    ("by_cat_price", Seq(IndexSortItem("cat", Some("text"), Some("asc")),
      IndexSortItem("price", Some("decimal"), Some("desc"))), None),
    ("or_ix", Nil, Some("score > 95 or qty > 5")))

  private def indexesFor(workload: String) =
    if (workload == "query_indexed") indexDefs else indexDefs.filter(_._1 == "by_price")

  /** Load the store and build the workload's indexes under `dir`, within
    * `span`. Returns the wall time, the calling thread's CPU time and each
    * index's build time, all in ms. */
  private def setUp(docs: Map[String, Vector[Doc]], dir: Path, span: String)
      : (Double, Double, Seq[Double]) = {
    val content = rows(docs)
    val cpu0 = threads.getCurrentThreadCpuTime
    val (builds, ms) = clock(Spans.within(sc, span) {
      val df = spark.createDataset(content)(Encoders.product[ContentRow]).toDF()
      if (cfg.workload == "write_feed") ContentStore.writeBatch(df, s"$dir/store", 0L)
      else ContentStore.write(df, s"$dir/store")
      val im = new IndexManager(ContentStore.open(spark, s"$dir/store"),
        Some(new IndexStore(spark, s"$dir/index")))
      indexesFor(cfg.workload).map { case (id, sortBy, filterBy) =>
        clock(im.createIndex(Data.Large, id, sortBy, filterBy))._2
      }
    })
    (ms, (threads.getCurrentThreadCpuTime - cpu0) / 1e6, builds)
  }

  // ---------------------------------------------------------------- reads

  private def errorCode(e: GraftError): String = e.getMessage.takeWhile(_ != ':')

  private def sameRows(got: Seq[Row], want: Seq[Doc]): Boolean =
    got.size == want.size && got.zip(want).forall { case (r, d) =>
      r.getAs[String]("item_id") == d.id &&
        Json.sameFields(Json.parse(r.getAs[String]("body")), d.fields + ("id" -> d.id))
    }

  private def describe(got: Either[String, Seq[Row]], want: Expect): String = {
    val g = got.fold(e => s"error $e", rs => s"${rs.size} rows ${rs.take(3).map(_.getAs[String]("item_id"))}")
    val w = want match {
      case Error(e) => s"error $e"
      case Rows(ds) => s"${ds.size} rows ${ds.take(3).map(_.id)}"
    }
    s"got $g, want $w"
  }

  private def matches(got: Either[String, Seq[Row]], want: Expect): Boolean = (got, want) match {
    case (Left(e), Error(w)) => e == w
    case (Right(rs), Rows(ds)) => sameRows(rs, ds)
    case _ => false
  }

  /** Time `call` and the collection of its rows as one operation. */
  private def collect(kind: String, span: Span)
      (call: => QueryResult): Either[String, Seq[Row]] = operation(kind) { id =>
    val (res, callMs) = clock(Spans.within(sc, span.name("call", id)) {
      try Right(call) catch { case e: GraftError => Left(errorCode(e)) }
    })
    val (out, fetchMs) = res match {
      case Left(e) => (Left(e), 0.0)
      case Right(r) =>
        clock(Spans.within(sc, span.name("fetch", id)) {
          try Right(r.rows.collect().toSeq) finally r.release()
        })
    }
    if (recording && cfg.trace && span.primary) {
      sample(s"$kind.call_ms", callMs)
      if (out.isRight) sample(s"$kind.fetch_ms", fetchMs)
    }
    out
  }

  /** Traced runs time the HQL front end and the planner on the same
    * inputs the call is about to use (outside the operation's timer). */
  private def planSpan(prefix: String, im: IndexManager, q: QuerySpec): Span = {
    if (recording && cfg.trace) q.filterText.foreach { f =>
      val (ast, parseMs) = clock(HqlParser(f))
      val (_, trMs) = clock(Translator.predicate(ast, FieldResolver.json(col("body"))))
      sample("hql.parse_us", parseMs * 1000)
      sample("hql.translate_us", trMs * 1000)
    }
    if (recording && cfg.trace) {
      val (p, ms) = clock(QueryPlanner.plan(im, q.uri, q.filterText, q.sortBy))
      sample("planner.plan_us", ms * 1000)
      count("planner.ops")
      if (p.source != "primary") count("planner.indexed")
      Span(prefix, p.source)
    } else Span(prefix, "?")
  }

  /** One collection query through the planner (and its cursor page when
    * asked for). */
  def query(im: IndexManager, q: QuerySpec,
      items: Option[IndexedSeq[Doc]]): Unit = {
    val want = Model.query(items, q.filter, q.sort, q.size, q.skipMax)
    val span = planSpan("q", im, q)
    val traced = recording && cfg.trace
    val before = if (traced) EngineMetrics(spark).snapshot else Map.empty[String, Long]
    val got = collect("query", span) {
      QueryPlanner.query(im, q.uri, q.filterText, q.sortBy, q.size, q.skipMax)._2
    }
    if (traced) {
      val after = EngineMetrics(spark).snapshot
      def delta(k: String) = after.getOrElse(k, 0L) - before.getOrElse(k, 0L)
      val returned = got.map(_.size.toDouble).getOrElse(0.0)
      if (span.primary) {
        count("engine.rows_scanned", delta("query.rows.scanned").toDouble)
        count("engine.rows_returned", returned)
      } else {
        count("index.rows_scanned", delta("index.rows.scanned").toDouble)
        count("index.rows_returned", returned)
      }
    }
    val ok = matches(got, want)
    check("query", ok, q.knownFault, s"${q.uri} ${q.filterText.getOrElse("")} " +
      s"sort=${q.sort.map(_.render).mkString(",")}: ${describe(got, want)}")
    if (q.page && ok) (got, want) match {
      case (Right(rs), Rows(_)) if rs.nonEmpty =>
        val last = rs.last
        val pageWant = Model.page(items.get, q.filter, q.sort, last.getAs[String]("item_id"), q.size)
        val pgot = collect("page", planSpan("p", im, q)) {
          QueryPlanner.queryAfter(im, q.uri, last, q.filterText, q.sortBy, q.size)._2
        }
        check("page", matches(pgot, pageWant), knownFault = false,
          s"${q.uri} after ${last.getAs[String]("item_id")}: ${describe(pgot, pageWant)}")
      case _ => mismatches += s"page: ${q.uri} has no first page to continue"
    }
  }

  def get(store: HyperStorage, uri: String, item: String, want: Option[Doc]): Unit = {
    val got = operation("get") { id =>
      val (r, ms) = clock(Spans.within(sc, s"get#$id")(store.get(s"$uri/$item")))
      if (recording && cfg.trace) sample("engine.get_ms", ms)
      r
    }
    val ok = (got, want) match {
      case (None, None) => true
      case (Some(r), Some(d)) => sameRows(Seq(r), Seq(d))
      case _ => false
    }
    check("get", ok, knownFault = false, s"$uri/$item: got ${got.isDefined}, want ${want.isDefined}")
  }

  // ---------------------------------------------------------------- rounds

  private def rnd(round: Int, salt: Int): Random =
    new Random(cfg.seed * 1000003L + round * 7919L + salt)

  private def cents(r: Random, lo: Int, hi: Int): BigDecimal =
    BigDecimal(lo + r.nextInt(hi - lo + 1), 2)

  private def largeRange(r: Random) = {
    val a = cents(r, 100, 90000)
    And(Cmp(Field("price"), ">=", Num(a)), Cmp(Field("price"), "<", Num(a + cents(r, 4000, 6000))))
  }

  /** One round of the read workloads: eight collection queries (the last
    * is the or-widening template), two cursor pages and three point gets on
    * the large collection — 13 operations. */
  def readRound(round: Int, shape: StoreShape, store: HyperStorage,
      im: IndexManager, docs: Map[String, Vector[Doc]]): Unit = {
    val r = rnd(round, 1)
    val large = Some(docs(Data.Large))
    val smallUri = Data.small(r.nextInt(shape.smallCount))
    val small = Some(docs(smallUri))
    def cat() = Data.Cats(r.nextInt(Data.Cats.size))
    val specs = Seq(
      QuerySpec(Data.Large, Some(largeRange(r)), Seq(Sort("price")), 50, NoSkipLimit, page = true),
      QuerySpec(Data.Large, Some(Cmp(Field("cat"), "=", Str(cat()))),
        Seq(Sort("cat"), Sort("price", desc = true)), 50, NoSkipLimit, page = true),
      QuerySpec(Data.Large, Some(And(Has("cat", Seq(cat(), cat()).distinct),
        Cmp(Field("score"), ">=", Num(50 + r.nextInt(41))))),
        Seq(Sort("score", desc = true)), 50, NoSkipLimit),
      QuerySpec(smallUri, Some(Or(
        Cmp(Arith('+', Arith('*', Field("qty"), Num(3)), Field("price")), ">", Num(cents(r, 50000, 95000))),
        Cmp(Field("cat"), "=", Str(cat())))),
        Seq(Sort("qty"), Sort("price")), 50, NoSkipLimit),
      QuerySpec(Data.Large, Some(Cmp(Field("price"), "<", Num(cents(r, 5000, 15000)))),
        Seq(Sort("id", desc = true)), 50, NoSkipLimit),
      QuerySpec(Data.Missing, Some(Cmp(Field("price"), ">", Num(1))), Nil, 50, NoSkipLimit),
      QuerySpec(smallUri, Some(Cmp(Field("price"), ">", Num(cents(r, 99950, 99990)))),
        Seq(Sort("qty")), 50, skipMax = 20),
      QuerySpec(Data.Large, Some(Cmp(Field("qty"), ">", Num(5))), Nil, 100, NoSkipLimit,
        knownFault = true))
    specs.foreach { q =>
      val items = if (q.uri == Data.Large) large else if (q.uri == smallUri) small else None
      query(im, q, items)
    }
    val l = docs(Data.Large)
    for (_ <- 0 until 2) {
      val hit = l(r.nextInt(l.size))
      get(store, Data.Large, hit.id, Some(hit))
    }
    get(store, Data.Large, Data.largeId(shape.largeItems + r.nextInt(1000)), None)
  }

  // ---------------------------------------------------------------- writes

  private def body(r: Random): Map[String, Any] = {
    val d = Data.doc("", r, None).fields
    if (r.nextInt(4) == 0) d + ("score" -> null) else d
  }

  /** The small collection a round deletes and re-creates. */
  private def victim(round: Int, shape: StoreShape): String =
    Data.small(Math.floorMod(round * 7, shape.smallCount))

  /** One batch of the write loop. Batch 0 of a round deletes a small
    * collection; batch 1 re-creates it. `seq` numbers run on across
    * batches: the engine derives POST ids from them, so ids restarting
    * with every batch would collide with earlier batches' POSTs. */
  def writeBatch(round: Int, b: Int, shape: StoreShape, firstSeq: Long): Seq[Write] = {
    val r = rnd(round, 100 + b)
    var seq = firstSeq
    val out = Seq.newBuilder[Write]
    def w(method: String, uri: String, item: String, body: Option[Map[String, Any]]): Unit = {
      seq += 1; out += Write(seq, method, uri, item, body)
    }
    def anyLarge() = Data.largeId(r.nextInt(shape.largeItems))
    // small-collection writes go to the round's victim and one neighbour,
    // so a batch touches few store partitions
    val v = victim(round, shape)
    val other = Data.small(Math.floorMod(round * 7 + 1, shape.smallCount))
    for (j <- 0 until 6) w("PUT", Data.Large, f"w$round%05d-$b-$j%02d", Some(body(r)))
    for (_ <- 0 until 2) w("PUT", Data.Large, anyLarge(), Some(body(r)))
    w("PATCH", Data.Large, anyLarge(), Some(Map("price" -> cents(r, 1, 99999), "score" -> null)))
    w("PATCH", Data.Large, anyLarge(),
      Some(Map("qty" -> BigDecimal(r.nextInt(10)), "cat" -> Data.Cats(r.nextInt(8)))))
    w("PATCH", Data.Large, s"absent-$round-$b", Some(Map("qty" -> BigDecimal(1))))
    w("DELETE", Data.Large, anyLarge(), None)
    w("DELETE", Data.Large, s"absent-$round-$b", None)
    for (_ <- 0 until 3) w("POST", other, "", Some(body(r)))
    for (_ <- 0 until 2)
      w("PATCH", other, Data.smallId(r.nextInt(shape.smallMin)), Some(Map("price" -> cents(r, 1, 99999))))
    w("PUT", other, "", Some(body(r)))
    if (b == 0) w("DELETE", v, "", None)
    else for (j <- 0 until 5) w("PUT", v, Data.smallId(j), Some(body(r)))
    out.result()
  }

  /** Compare the events the sink received for one batch with the model's.
    * Per collection: revisions increase without gaps from the model's
    * revision, one event per accepted write, and each event carries the
    * expected item, method and body. POSTed ids must be new (never used by
    * an earlier POST of the store either) and increase in op order; the
    * model adopts them. */
  def checkFeed(got: Vector[FeedEvent], want: Seq[Event], model: WriteModel,
      posted: mutable.Set[(String, String)]): Unit = {
    val byUri = got.groupBy(_.document_uri)
    val wantByUri = want.groupBy(_.uri)
    (byUri.keySet ++ wantByUri.keySet).foreach { uri =>
      val g = byUri.getOrElse(uri, Vector.empty)
      val w = wantByUri.getOrElse(uri, Nil)
      if (g.size != w.size) mismatches += s"feed: $uri published ${g.size} events, want ${w.size}"
      else {
        var lastPost = ""
        g.zip(w).foreach { case (e, x) =>
          val body = Option(e.body).map(Json.parse)
          val item = if (x.post) e.item_id else x.item
          val wantBody = x.body.map(b => if (x.post) b + ("id" -> e.item_id) else b)
          val bodyOk = (body, wantBody) match {
            case (None, None) => true
            case (Some(a), Some(b)) => Json.sameFields(a, b)
            case _ => false
          }
          val postOk = !x.post ||
            (e.item_id > lastPost && !posted((uri, e.item_id)) && model.get(uri, e.item_id).isEmpty)
          if (e.revision != x.revision || e.method != x.method || e.item_id != item ||
              !bodyOk || !postOk)
            mismatches += s"feed: $uri got ${e.method} ${e.item_id}#${e.revision}, " +
              s"want ${x.method} ${x.item}#${x.revision}"
          else if (x.post) {
            lastPost = e.item_id
            posted += ((uri, e.item_id))
            model.adopt(uri, x.item, e.item_id)
          }
        }
      }
    }
  }

  // ---------------------------------------------------------------- workloads

  private def du(dirs: Path*): (Long, Long) = {
    var bytes = 0L
    var files = 0L
    dirs.filter(Files.exists(_)).foreach { d =>
      val s = Files.walk(d)
      try s.filter(Files.isRegularFile(_)).forEach { f =>
        bytes += Files.size(f)
        if (f.getFileName.toString.endsWith(".parquet")) files += 1
      } finally s.close()
    }
    (bytes, files)
  }

  private def wipe(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  /** The operations of one workload over one loaded store: whole rounds,
    * and a shorter warm-up that runs every kind of operation once. */
  private trait Loop {
    def round(i: Int): Unit
    def warmUp(): Unit
  }

  private def loop(dir: Path, shape: StoreShape, docs: Map[String, Vector[Doc]]): Loop =
    if (cfg.workload == "write_feed") new WriteLoop(dir, shape, docs)
    else new ReadLoop(dir, shape, docs)

  /** The read workload: every query goes through the planner, which serves
    * some templates from the indexes and the rest from the primary store. */
  private final class ReadLoop(dir: Path, shape: StoreShape, docs: Map[String, Vector[Doc]])
      extends Loop {
    private val store = ContentStore.open(spark, s"$dir/store")
    private val im = new IndexManager(store, Some(new IndexStore(spark, s"$dir/index")))
    def round(i: Int): Unit = readRound(i, shape, store, im, docs)
    def warmUp(): Unit = round(-1)
  }

  /** The write loop: batches through FeedPipeline.runBatch, each followed
    * by an index-served query, its cursor page and a point get through a
    * freshly opened store and IndexManager; compaction every
    * [[BatchesPerCompaction]] batches. */
  private final class WriteLoop(dir: Path, shape: StoreShape, docs: Map[String, Vector[Doc]])
      extends Loop {
    val model = new WriteModel(docs)
    /** Events published, for the ledger check; POSTed ids; body bytes written. */
    var published = 0L
    private val posted = mutable.Set.empty[(String, String)]
    var writtenBytes = 0L
    private val storePath = s"$dir/store"
    private val ledgerPath = s"$dir/ledger"
    private val indexPath = s"$dir/index"
    private val wiredIndexes = new IndexManager(ContentStore.open(spark, storePath),
      Some(new IndexStore(spark, indexPath)))
    private var batchNo = 0L
    private var nextSeq = 0L

    def round(i: Int): Unit = {
      (0 until BatchesPerCompaction).foreach(batch(i, _))
      compact()
    }

    def warmUp(): Unit = { batch(-1, 0); compact() }

    private def batch(round: Int, b: Int): Unit = {
      val sess = spark
      import sess.implicits._
      val batch = writeBatch(round, b, shape, nextSeq)
      nextSeq += batch.size
      val ops = batch.map(w => WriteOp(w.seq, w.method, w.path, w.bodyJson))
      val (want, rejectedWant) = model.apply(batch)
      val rejectedBefore = EngineMetrics(spark).get("write.ops.rejected")
      val idxBefore = if (recording && cfg.trace) du(Path.of(indexPath))._2 else 0L
      batchNo += 1
      val ms = operation("batch") { id =>
        clock(Spans.within(sc, s"batch#$id") {
          FeedPipeline.runBatch(ops.toDS(), batchNo * 60000L, storePath, ledgerPath,
            Some(wiredIndexes))(Sink.send)
        })._2
      }
      if (recording) {
        batchWrites += ops.size
        sample("feed.batch_ms", ms)
        if (cfg.trace)
          count("index.files_written", (du(Path.of(indexPath))._2 - idxBefore).max(0L).toDouble)
      }
      writtenBytes += batch.flatMap(_.body).map(b => Json.render(b).length.toLong).sum
      val events = Sink.drain()
      published += events.size
      if (recording) count("feed.events", events.size.toDouble)
      checkFeed(events, want, model, posted)
      val rejected = EngineMetrics(spark).get("write.ops.rejected") - rejectedBefore
      if (rejected != rejectedWant)
        mismatches += s"batch: $rejected writes rejected, want $rejectedWant"

      val (store, openMs) = clock(Spans.within(sc, "open")(ContentStore.open(spark, storePath)))
      if (recording && cfg.trace) sample("store.open_ms", openMs)
      val im = Spans.within(sc, "open")(
        new IndexManager(store, Some(new IndexStore(spark, indexPath))))
      val r = rnd(round, 200 + b)
      query(im, QuerySpec(Data.Large, Some(largeRange(r)), Seq(Sort("price")), 50,
        NoSkipLimit, page = true), model.visible(Data.Large))
      val v = victim(round, shape)
      val item = Data.smallId(if (b == 0) r.nextInt(shape.smallMin) else r.nextInt(5))
      get(store, v, item, model.get(v, item))
    }

    private def compact(): Unit = {
      val ms = operation("compact") { id =>
        clock(Spans.within(sc, s"compact#$id")(ContentStore.compact(spark, storePath)))._2
      }
      if (recording && cfg.trace) sample("store.compact_ms", ms)
    }
  }

  /** Full check at the end of the write loop: the latest visible state of
    * the whole store equals the model, and the ledger holds one completed
    * transaction per published event. */
  private def finalCheck(dir: Path, model: WriteModel, published: Long): Unit = Spans.within(sc, "check") {
    val state = ContentStore.open(spark, s"$dir/store").current
      .filter(col("item_id") =!= "")
      .select("document_uri", "item_id", "body").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val want = model.colls.toSeq.flatMap { case (uri, c) =>
      c.items.values.map(d => (uri, d.id) -> d)
    }.toMap
    if (state.keySet != want.keySet)
      mismatches += s"final state: ${state.size} items, want ${want.size}; " +
        s"extra ${(state.keySet -- want.keySet).take(3)}, missing ${(want.keySet -- state.keySet).take(3)}"
    else state.foreach { case (k, b) =>
      val d = want(k)
      if (!Json.sameFields(Json.parse(b), d.fields + ("id" -> d.id)))
        mismatches += s"final state: ${k._1}/${k._2} body differs"
    }
    val ledger = FeedPipeline.ledgerState(spark, s"$dir/ledger")
    val (txns, incomplete) = {
      val r = ledger.agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.count_if(!col("completed"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    if (txns != published || incomplete != 0)
      mismatches += s"ledger: $txns transactions ($incomplete incomplete), want $published completed"
  }

  /** The JVM warm-up on a small separate store, the timed set-ups and the
    * timed window. Returns the window's rounds. */
  def run(): Int = {
    val t0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"enginebench: $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val docs = Data.store(shape, cfg.seed)
    inputBytes = docs.values.flatten.map(_.json.length.toLong).sum
    val warmDir = cfg.work.resolve("warm-up")
    val warmDocs = Data.store(warmShape, cfg.seed)
    setUp(warmDocs, warmDir, "warm-up")
    loop(warmDir, warmShape, warmDocs).warmUp()
    wipe(warmDir)
    phase("warm-up done")
    val setups = (0 until SetupRepeats).map { i =>
      val dir = cfg.work.resolve(s"setup-$i")
      val r = setUp(docs, dir, s"setup-$i")
      if (i < SetupRepeats - 1) wipe(dir)
      r
    }
    org.apache.spark.benchbridge.ListenerBus.drain(sc)
    val setupTaskCpuMs = rec.work.synchronized(rec.work.toMap)
      .toSeq.collect { case ((span, _), w) => span -> w.cpuMs }.groupMapReduce(_._1)(_._2)(_ + _)
    setupSeconds = setups.map(_._1 / 1000)
    setupCpuSeconds = setups.zipWithIndex.map { case ((_, callerMs, _), i) =>
      (callerMs + setupTaskCpuMs.getOrElse(s"setup-$i", 0.0)) / 1000
    }
    if (cfg.trace) setups.flatMap(_._3).foreach(sample("index.build_ms", _))
    val dir = cfg.work.resolve(s"setup-${SetupRepeats - 1}")
    phase("set-up done")

    val measured = loop(dir, shape, docs)
    org.apache.spark.benchbridge.ListenerBus.drain(sc)
    rec.clear()
    val (jvm0, steal0) = (JvmSample.now(), Steal.ticks())
    recording = true
    val until = System.nanoTime() + cfg.seconds * 1000000000L
    var rounds = 0
    while (rounds == 0 || System.nanoTime() < until) { measured.round(rounds); rounds += 1 }
    recording = false
    jvm = (jvm0, JvmSample.now())
    steal = (steal0, Steal.ticks())
    phase(s"window done ($rounds rounds)")
    org.apache.spark.benchbridge.ListenerBus.drain(sc)
    window = rec.work.synchronized(rec.work.toMap)
    measured match {
      case w: WriteLoop =>
        finalCheck(dir, w.model, w.published)
        inputBytes += w.writtenBytes
      case _ => ()
    }
    val (bytes, _) = du(dir.resolve("store"), dir.resolve("ledger"), dir.resolve("index"))
    counts("disk.bytes") = bytes.toDouble
    val (storeBytes, storeFiles) = du(dir.resolve("store"))
    counts("store.bytes") = storeBytes.toDouble
    counts("store.data_files") = storeFiles.toDouble
    rounds
  }
}
