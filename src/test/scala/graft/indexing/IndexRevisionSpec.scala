package graft.indexing

import graft.SparkFixture
import graft.engine._
import graft.streaming.FeedPipeline
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.freespec.AnyFreeSpec
import org.scalatest.matchers.should.Matchers
import java.nio.file.{Files, Path}

/** The collection revision of an index-served result comes from the
  * commit record of the index version that serves it. Whenever every write
  * goes through index maintenance it equals the content log's revision
  * (HyperStorage.revisionOf) — pinned here step by step, over a content
  * store and over an in-memory content log — and serving it reads nothing
  * of the content store. */
class IndexRevisionSpec extends AnyFreeSpec with Matchers with SparkFixture {

  private val Uri = "c~"
  private val ByX = Seq(IndexSortItem("x", Some("decimal"), Some("asc")))

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** A content store plus the index manager that serves queries over it. */
  private trait Mode {
    def load(ops: Seq[WriteOp]): Unit
    def build(): Unit
    /** One write batch through index maintenance. */
    def write(ops: Seq[WriteOp]): Unit
    def storage: HyperStorage
    def im: IndexManager
  }

  /** Durable: ContentStore + IndexStore, batches through FeedPipeline. */
  private final class StoreMode extends Mode {
    val storePath: String = tmp("rev-store")
    val indexPath: String = tmp("rev-index")
    private val ledgerPath = tmp("rev-ledger")
    private var batchNo = 0L
    var im: IndexManager = _
    def storage: HyperStorage = ContentStore.open(spark, storePath)
    private def run(ops: Seq[WriteOp], indexes: Option[IndexManager]): Unit = {
      import spark.implicits._
      batchNo += 1
      FeedPipeline.runBatch(ops.toDS(), batchNo * 60000L,
        storePath, ledgerPath, indexes)(_ => ())
    }
    def load(ops: Seq[WriteOp]): Unit = run(ops, None)
    def build(): Unit = {
      reopen()
      im.createIndex(Uri, "byX", ByX, Some("x > 0"))
    }
    def write(ops: Seq[WriteOp]): Unit = run(ops, Some(im))
    def reopen(): Unit = im = new IndexManager(storage, Some(new IndexStore(spark, indexPath)))
  }

  /** No content store: an in-memory log, batches through `applyFeed`, the
    * index served from the manager's default store. */
  private final class MemoryMode extends Mode {
    var storage: HyperStorage = HyperStorage(spark, Content.empty(spark))
    var im: IndexManager = _
    private def apply(ops: Seq[WriteOp]): ApplyResult = {
      val r = storage.applySeq(ops)
      storage = HyperStorage(spark, r.log.localCheckpoint())
      r
    }
    def load(ops: Seq[WriteOp]): Unit = apply(ops).release()
    def build(): Unit = {
      im = new IndexManager(storage)
      im.createIndex(Uri, "byX", ByX, Some("x > 0"))
    }
    def write(ops: Seq[WriteOp]): Unit = {
      val r = apply(ops)
      try im.applyFeed(r.feed) finally r.release()
    }
  }

  private def put(id: String, x: Int) = WriteOp(0, "PUT", s"$Uri/$id", s"""{"x":$x}""")

  /** Every index-served query and cursor page reports the revision the
    * content log has. */
  private def checkParity(m: Mode, step: String): Unit = {
    val want = m.storage.revisionOf(Uri)
    val (p, q) = QueryPlanner.query(m.im, Uri, Some("x > 3"), Seq(SortBy("x")), size = 2)
    withClue(s"$step, first page: ") {
      p.source shouldBe "byX"
      q.revision shouldBe want
    }
    val rows = q.rows.collect()
    rows should not be empty
    val (pp, page) = QueryPlanner.queryAfter(m.im, Uri, rows.last,
      Some("x > 3"), Seq(SortBy("x")), size = 2)
    withClue(s"$step, next page: ") {
      pp.source shouldBe "byX"
      page.revision shouldBe want
    }
  }

  private def numbered(ops: WriteOp*): Seq[WriteOp] =
    ops.zipWithIndex.map { case (op, i) => op.copy(seq = i + 1L) }

  private def runSequence(m: Mode): Unit = {
    m.load(numbered((1 to 6).map(i => put(s"i$i", i)) :+
      WriteOp(0, "PUT", "d~/o1", """{"y":1}"""): _*))
    m.build()
    checkParity(m, "build")
    m.write(numbered(
      WriteOp(0, "PATCH", s"$Uri/absent", """{"x":1}"""), // rejected
      WriteOp(0, "DELETE", s"$Uri/gone", null), // rejected
      WriteOp(0, "POST", Uri, """{"x":7}"""),
      WriteOp(0, "POST", Uri, """{"x":8}"""),
      WriteOp(0, "PATCH", s"$Uri/i5", """{"x":null}"""), // leaves the index
      WriteOp(0, "DELETE", s"$Uri/i4", null)))
    checkParity(m, "mixed batch")
    // the batch touches the collection only with a rejected op
    m.write(numbered(
      WriteOp(0, "PATCH", s"$Uri/nope", """{"x":1}"""),
      WriteOp(0, "PUT", "d~/o2", """{"y":2}""")))
    checkParity(m, "batch with nothing applied to the collection")
    m match {
      case s: StoreMode =>
        s.reopen()
        checkParity(m, "reopened manager")
      case _ => ()
    }
    for (k <- 0 to IndexStore.MaxRoots) {
      m.write(numbered(put(s"n$k", 10 + k)))
      checkParity(m, s"merge $k")
    }
  }

  /** [[runSequence]] on one-byte files, so the table is laid out in many
    * parts and its single-item merges scatter it until it is compacted. */
  private def runCompacting(m: Mode): Unit =
    withConf("spark.sql.files.openCostInBytes", "1") {
      val rewrites = EngineMetrics(spark).get("index.rewrites")
      runSequence(m)
      EngineMetrics(spark).get("index.rewrites") should be > rewrites
    }

  "index-served results report the content log's revision" - {
    "durable mode: build, batches, reopen, merges past compaction" in {
      val m = new StoreMode
      runCompacting(m)
      val roots = new java.io.File(new IndexStore(spark, m.indexPath).tableDir(Uri, "byX"))
        .listFiles().count(_.getName.startsWith("w-"))
      roots should be <= IndexStore.MaxRoots
    }

    "store-less mode: build, batches, merges" in {
      runCompacting(new MemoryMode)
    }
  }

  "serving an index-served query reads nothing of the content store" in {
    val m = new StoreMode
    m.load(numbered((1 to 6).map(i => put(s"i$i", i)): _*))
    m.build()
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.optimizedPlan.foreach {
          case l: LogicalRelation => l.relation match {
            case fs: HadoopFsRelation =>
              fs.location.rootPaths.foreach(p => scanned.add(p.toUri.getPath))
            case _ => ()
          }
          case _ => ()
        }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graftbridge.Bridge.drainListeners(sc)
    spark.listenerManager.register(listener)
    try {
      val (p, q) = QueryPlanner.query(m.im, Uri, Some("x > 3"), Seq(SortBy("x")), size = 2)
      p.source shouldBe "byX"
      q.rows.collect().map(_.getAs[String]("item_id")).toSeq shouldBe Seq("i4", "i5")
      q.revision shouldBe 6
      org.apache.spark.sql.graftbridge.Bridge.drainListeners(sc)
    } finally spark.listenerManager.unregister(listener)
    val paths = scanned.toArray(Array.empty[String]).toSeq
    val store = Path.of(m.storePath).toRealPath()
    val index = Path.of(m.indexPath).toRealPath()
    paths should not be empty
    paths.foreach { p =>
      val real = Path.of(p).toRealPath()
      real.startsWith(store) shouldBe false
      real.startsWith(index) shouldBe true
    }
  }

  "the commit record" - {
    "a merge that rewrites no partition still commits the batch's revision" in {
      val r = HyperStorage(spark, Content.empty(spark)).applySeq(
        numbered(put("a", 1), put("b", 2)))
      val store = new IndexStore(spark, tmp("rev-empty-merge"))
      val im = new IndexManager(HyperStorage(spark, r.log), Some(store))
      im.createIndex(Uri, "byX", ByX, None)
      store.openVersion(Uri, "byX").revision shouldBe 2
      val none = Content.empty(spark).select("item_id")
      store.mergeTable(Uri, "byX", none, im.indexTable(Uri, "byX").get.limit(0),
        revision = 9, parts = Nil)
      store.openVersion(Uri, "byX").revision shouldBe 9
      // a revision never moves backwards
      store.mergeTable(Uri, "byX", none, im.indexTable(Uri, "byX").get.limit(0),
        revision = 4, parts = Nil)
      store.openVersion(Uri, "byX").revision shouldBe 9
    }

    "a manifest with no revision line fails with a rebuild error" in {
      val r = HyperStorage(spark, Content.empty(spark)).applySeq(numbered(put("a", 1)))
      val store = new IndexStore(spark, tmp("rev-old-manifest"))
      new IndexManager(HyperStorage(spark, r.log), Some(store))
        .createIndex(Uri, "byX", ByX, None)
      // rewrite the manifest in the layout that predates the revision
      // record: the same length-framed file without its revision line
      val manifest = Path.of(store.tableDir(Uri, "byX"), "_manifest")
      val body = Files.readString(manifest).split("\n", 2)(1)
        .split("\n").filterNot(_.startsWith("revision\t")).mkString("\n")
      Files.writeString(manifest, s"${body.getBytes("UTF-8").length}\n$body")
      Files.deleteIfExists(manifest.resolveSibling("._manifest.crc"))
      val e = intercept[IllegalStateException](store.openVersion(Uri, "byX"))
      e.getMessage should include("rebuild the index store")
    }
  }
}
