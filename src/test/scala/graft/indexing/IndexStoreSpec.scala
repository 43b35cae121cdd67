package graft.indexing

import graft.SparkFixture
import graft.engine._
import graft.streaming.FeedPipeline
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import org.scalatest.freespec.AnyFreeSpec
import org.scalatest.matchers.should.Matchers
import java.io.File
import java.nio.file.{Files, Path}

/** The physical layout of index tables: how many parts a table version is
  * laid out in, and what merges, growth and old manifests do to it. The
  * indexes here filter with no `or`, so a fresh build is the reference for
  * every merged table. */
class IndexStoreSpec extends AnyFreeSpec with Matchers with SparkFixture {

  private val Uri = "c~"
  private val ByX = Seq(IndexSortItem("x", Some("decimal"), Some("asc")))
  private val OpenCost = "spark.sql.files.openCostInBytes"

  private def put(id: String, x: Int) = WriteOp(0, "PUT", s"$Uri/$id", s"""{"x":$x}""")

  /** A content store with one collection of 40 items, and an index store.
    * Batches run through FeedPipeline, maintaining the indexes. */
  private final class Fixture {
    private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
    private val storePath = tmp("layout-store")
    private val ledgerPath = tmp("layout-ledger")
    val store = new IndexStore(spark, tmp("layout-index"))
    private var batchNo = 0L
    private var im: Option[IndexManager] = None

    def storage: HyperStorage = ContentStore.open(spark, storePath)

    def write(ops: WriteOp*): Unit = {
      import spark.implicits._
      batchNo += 1
      FeedPipeline.runBatch(ops.zipWithIndex.map { case (op, i) => op.copy(seq = i + 1L) }.toDS(),
        batchNo * 60000L, storePath, ledgerPath, im)(_ => ())
    }
    write((1 to 40).map(i => put(s"i$i", i)): _*)

    /** The optimizer's estimate of the collection's content-log scan — the
      * bytes a build sizes its table from. */
    def contentBytes: BigInt = {
      val s = storage
      IndexStore.estimatedBytes(s.log.filter(s.uriPruner(Uri) && col("document_uri") === Uri))
    }

    def build(id: String): Unit = {
      val m = new IndexManager(storage, Some(store))
      m.createIndex(Uri, id, ByX, Some("x > 0"))
      im = Some(m)
    }

    def dir(id: String): String = store.tableDir(Uri, id)

    def parts(id: String): Int = manifestParts(dir(id))

    def rows(id: String): Seq[Seq[Any]] =
      store.openVersion(Uri, id).rows.select("item_id", "revision", "body", "d0")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)

    def dataFiles(id: String): Seq[File] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new File(dir(id))).filter(_.getName.endsWith(".parquet"))
    }

    /** The merged table equals a fresh build of the same definition: rows
      * and revision, which both equal the content log's. */
    def checkAgainstFreshBuild(id: String): Unit = {
      val fresh = s"$id-fresh"
      new IndexManager(storage, Some(store)).createIndex(Uri, fresh, ByX, Some("x > 0"))
      rows(id) shouldBe rows(fresh)
      store.openVersion(Uri, id).revision shouldBe store.openVersion(Uri, fresh).revision
      store.openVersion(Uri, id).revision shouldBe storage.revisionOf(Uri)
      store.dropTable(Uri, fresh)
    }
  }

  private def rewrites: Long = EngineMetrics(spark).get("index.rewrites")

  /** The part count the manifest of the table in `dir` records. */
  private def manifestParts(dir: String): Int =
    Files.readString(Path.of(dir, "_manifest")).split("\n")
      .collectFirst { case l if l.startsWith("parts\t") => l.stripPrefix("parts\t").toInt }
      .get

  "an index built over an in-memory content log is one part" in {
    // the log of a batch applied to Content.empty: a build sizes its table
    // from this plan's estimate, which must come from the two rows
    val log = HyperStorage(spark, Content.empty(spark))
      .applySeq(Seq(put("a", 1).copy(seq = 1), put("b", 2).copy(seq = 2))).log
    val store = new IndexStore(spark, Files.createTempDirectory("layout-memory").toString)
    new IndexManager(HyperStorage(spark, log), Some(store))
      .createIndex(Uri, "byX", ByX, Some("x > 0"))
    manifestParts(store.tableDir(Uri, "byX")) shouldBe 1
  }

  "a small table version is one data file, read in one scan" in {
    val f = new Fixture
    f.build("byX")
    f.parts("byX") shouldBe 1
    f.dataFiles("byX").size shouldBe 1
    // a merge rewrites that one part; the superseded root is collected
    f.write(put("i3", 99), WriteOp(0, "DELETE", s"$Uri/i7", null))
    f.parts("byX") shouldBe 1
    f.dataFiles("byX").size shouldBe 1
    val scans = f.store.openVersion(Uri, "byX").rows.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
    scans.size shouldBe 1
    scans.head.relation.location.inputFiles.length shouldBe 1
  }

  "merges on an n > 1 table keep n and equal a fresh build, revision included" in {
    val f = new Fixture
    // bytes / 4 <= openCost < bytes / 2: the build lays the table out in 4 parts
    withConf(OpenCost, (f.contentBytes / 3).toString)(f.build("byX"))
    f.parts("byX") shouldBe 4
    val before = rewrites
    f.write(put("i1", 50), put("n1", 7), WriteOp(0, "PATCH", s"$Uri/i2", """{"x":-1}"""))
    f.write(WriteOp(0, "DELETE", s"$Uri/i4", null), put("i5", 5), put("n2", 0))
    f.write(WriteOp(0, "PATCH", s"$Uri/i6", """{"x":66}"""), put("n3", 3))
    f.parts("byX") shouldBe 4
    rewrites shouldBe before
    f.checkAgainstFreshBuild("byX")
  }

  "growth past 2·n·openCost rewrites the table at a larger n, rows and revision intact" in {
    val f = new Fixture
    f.build("byX")
    f.parts("byX") shouldBe 1
    val before = rewrites
    // one-byte files: the one-part table has outgrown its layout
    withConf(OpenCost, "1")(f.write(put("i8", 80)))
    rewrites shouldBe before + 1
    f.parts("byX") shouldBe IndexStore.IndexPartitions
    f.checkAgainstFreshBuild("byX")
  }

  "a manifest with no parts line reads as the 32-part layout" in {
    val f = new Fixture
    withConf(OpenCost, "1")(f.build("byX"))
    f.parts("byX") shouldBe IndexStore.IndexPartitions
    // rewrite the manifest as it was before it recorded a part count
    val manifest = Path.of(f.dir("byX"), "_manifest")
    val body = Files.readString(manifest).split("\n", 2)(1)
      .split("\n").filterNot(_.startsWith("parts\t")).mkString("\n")
    Files.writeString(manifest, s"${body.getBytes("UTF-8").length}\n$body")
    Files.deleteIfExists(manifest.resolveSibling("._manifest.crc"))
    f.rows("byX").map(_.head) should have size 40
    // a merge must find each touched item in its 32-part home: read as
    // any smaller n, the old copies would survive next to the new rows
    f.write(put("i1", 50), WriteOp(0, "DELETE", s"$Uri/i9", null), put("i33", 1))
    f.parts("byX") shouldBe IndexStore.IndexPartitions
    f.checkAgainstFreshBuild("byX")
  }

  "a merge deletes the part directories it superseded in roots that stay live" in withConf(OpenCost, "1") {
    val f = new Fixture
    f.build("byX")
    f.write(put("i1", 50))
    f.write(put("i2", 60))
    // on disk: exactly the (root, part) directories the manifest names
    val named = Files.readString(Path.of(f.dir("byX"), "_manifest")).split("\n").drop(1)
      .map(_.split("\t")).collect { case Array(p, root) if p.forall(_.isDigit) => s"$root/ipart=$p" }
      .toSet
    val onDisk = new File(f.dir("byX")).listFiles().filter(_.getName.startsWith("w-"))
      .flatMap(r => r.listFiles().filter(_.getName.startsWith("ipart="))
        .map(p => s"${r.getName}/${p.getName}")).toSet
    named.map(_.takeWhile(_ != '/')).size should be > 1 // the build root is still live
    onDisk shouldBe named
  }
}
