package graft.indexing

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.hadoop.fs.Path
import graft.engine.{EngineMetrics, TableCommit}
import TableCommit.{readSwapped, writeSwapped}
import java.net.{URLDecoder, URLEncoder}

/** Durable home of index definitions and index tables — the Spark-native
  * counterpart of the reference's `index_def` / `pending_index` metadata
  * tables and per-shape `index_content*` tables (scheme.cql:31-108;
  * IndexDefTaskWorker.scala:71-110 persists the def BEFORE building so an
  * interrupted build is resumable after restart).
  *
  * Layout — each index table is a [[TableCommit]] directory:
  * {{{
  *   <path>/defs                     — driver-written def rows (atomic swap)
  *   <path>/tables/<enc(uri)>/<enc(id)>/
  *     _schema.json                  — driver-written Spark schema JSON
  *     _manifest                     — a line "revision<TAB>N": the
  *                                     collection revision the version
  *                                     reflects; a line "parts<TAB>n": the
  *                                     physical part count; then lines
  *                                     "p<TAB>root": which staging root
  *                                     currently owns physical part p
  *     w-<G>/ipart=p/…parquet        — immutable staging roots, one per
  *                                     build/merge job
  * }}}
  * Every row has a logical item hash `crc32(item_id) % IndexPartitions`
  * ([[ipartCol]]) and lives in physical part `ipart mod n`, where n is a
  * power of two, 1 ≤ n ≤ IndexPartitions, fixed per table version. A
  * manifest without a parts line predates the rule and reads as
  * n = IndexPartitions, the layout it was written in.
  *
  * n is sized to the table's bytes: a whole-table write (build or
  * compaction) takes the smallest n with bytes / n ≤
  * `spark.sql.files.openCostInBytes` ([[partsFor]]) — Spark's own estimate
  * of the size at which a file is worth opening — from sizes known without
  * a job: a build from its collection's partition bytes
  * ([[graft.engine.HyperStorage.uriBytes]]), a compaction from the
  * optimizer's estimate of the table's files. A small index is one file,
  * read as one partition ([[openParts]]) and rewritten by one write task;
  * a 100 TB index stays at IndexPartitions parts. Merges keep n; once a
  * merge leaves the table larger than 2 · n · openCost, the table is
  * rewritten at the n its size asks for.
  *
  * The manifest's revision line is the commit record of the index as a
  * sink: the collection revision its rows reflect (the latest revision of
  * the content log it was built from, raised by every merged feed batch).
  * Index-served reads report it instead of re-deriving the revision from
  * the content log, and since one manifest read yields both the parts and
  * the revision, they always come from the same version.
  *
  * The item-hash layout makes incremental maintenance PART-SCOPED: a feed
  * batch touching k items reads and rewrites at most min(k, n) physical
  * parts into a NEW immutable staging root, then commits through the
  * manifest swap, so the merge is atomic across every touched part. The
  * row-wise Cassandra MERGE the reference performs
  * (BackgroundContentTaskCompleter.scala:126-188) is thus expressed as
  * bulk part rewrites with lineage truncated at every batch. The commit
  * deletes the part directories it superseded inside roots that stay live.
  *
  * When merges scatter a table's parts across more than
  * [[IndexStore.MaxRoots]] roots, the table is compacted back into one
  * root (full rewrite, amortized over many merges) so small files don't
  * accumulate.
  *
  * Single writer per store path, mirroring the reference's one-owner-per-
  * shard discipline (ShardProcessor); readers re-open per query, as
  * [[IndexManager.indexVersion]] does.
  */
final class IndexStore(val spark: SparkSession, val path: String) {
  import IndexStore._

  private def fs =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def defsPath = s"$path/defs"

  def tableDir(uri: String, indexId: String): String =
    s"$path/tables/${enc(uri)}/${enc(indexId)}"

  def loadDefs(): Map[(String, String), IndexDef] = {
    // a DIRECTORY at the defs path is the pre-manifest parquet layout:
    // fail with intent, not an IO error deep in a parquet reader
    if (fs.exists(new Path(defsPath)) &&
        fs.getFileStatus(new Path(defsPath)).isDirectory)
      throw new IllegalStateException(
        s"$defsPath uses the old parquet def layout; rebuild the index store")
    readSwapped(fs, defsPath).map(_.split("\n").iterator
      .filter(_.nonEmpty).map { line =>
        val Array(uri, id, sortBy, filterBy, status, tableName) =
          line.split("\t", -1).map(f => URLDecoder.decode(f, "UTF-8"))
        val d = IndexDef(uri, id,
          Option(sortBy).filter(_.nonEmpty)
            .map(_.split(";", -1).toSeq.map(decodeItem)).getOrElse(Nil),
          Option(filterBy).filter(_.nonEmpty), status, tableName)
        (d.collectionUri, d.indexId) -> d
      }.toMap).getOrElse(Map.empty)
  }

  /** Replace the (small, driver-held) def metadata. Called on every status
    * transition so a restarted manager resumes from the last one —
    * INDEXING defs surface as resumable builds, like `pending_index`.
    * A driver-side FS write (no Spark job — the metadata is a handful of
    * rows, and each index lifecycle transition would otherwise pay a full
    * job), atomically swapped in. */
  def saveDefs(defs: Iterable[IndexDef]): Unit =
    writeSwapped(fs, defsPath, defs.toSeq.map { d =>
      Seq(d.collectionUri, d.indexId, d.sortBy.map(encodeItem).mkString(";"),
        d.filterBy.getOrElse(""), d.status, d.tableName)
        .map(f => URLEncoder.encode(f, "UTF-8")).mkString("\t")
    }.mkString("\n"))

  /** The `_schema` anchor makes empty tables readable: a partitioned write
    * of zero rows emits no parquet footers, so without it a NORMAL index
    * whose filter matched nothing would crash every open with
    * 'Unable to infer schema'. A driver-written JSON schema file (no Spark
    * job), underscore-prefixed so data reads of the table dir ignore it. */
  private def schemaAnchor(dir: String) = s"$dir/_schema.json"

  private def tableSchema(dir: String): StructType =
    DataType.fromJson(readSwapped(fs, schemaAnchor(dir)).get)
      .asInstanceOf[StructType]

  // ---------------------------------------------------------- manifest

  /** The committed version a manifest names. A manifest without a
    * revision line predates the revision record: fail with intent, like
    * [[loadDefs]] on the old defs layout, rather than guess a revision. */
  private def loadManifest(dir: String): Manifest = {
    val lines = TableCommit.readManifest(fs, dir).toSeq
      .flatMap(_.split("\n")).filter(_.nonEmpty).map(_.split("\t", -1))
    val revision = lines.collectFirst { case Array(RevisionKey, r) => r.toLong }
      .getOrElse(throw new IllegalStateException(
        s"${TableCommit.manifest(dir)} records no revision; rebuild the index store"))
    val n = lines.collectFirst { case Array(PartsKey, n) => n.toInt }
      .getOrElse(IndexPartitions)
    Manifest(n, lines.collect {
      case Array(p, root) if p != RevisionKey && p != PartsKey => p.toInt -> root
    }.toMap, revision)
  }

  /** A table version is exactly what its manifest lists. */
  private def commitManifest(dir: String, m: Manifest): Unit =
    TableCommit.commit(fs, dir,
      (Seq(s"$RevisionKey\t${m.revision}", s"$PartsKey\t${m.n}") ++
        m.roots.toSeq.sorted.map { case (p, root) => s"$p\t$root" }).mkString("\n"),
      m.roots.values.toSet)

  // ------------------------------------------------------------ tables

  /** Full (re)build: one fresh staging root owning every part, at the part
    * count `bytes` asks for — the caller's size of the source it builds
    * from. The schema anchor is a swapped write (a crash
    * can never leave it truncated), and it lands before the manifest
    * commit; a table's schema is a pure function of its IndexDef — a
    * schema CHANGE always goes through dropTable (delete + create) — so
    * the new-schema-over-old-manifest crash window rewrites an identical
    * schema and is benign. `revision` is evaluated after the rows are
    * written, so it may read an observation of the write job. */
  def writeTable(uri: String, indexId: String, rows: DataFrame,
      revision: => Long, bytes: BigInt): Unit = {
    val dir = tableDir(uri, indexId)
    val n = partsFor(bytes)
    val roots = writePartitioned(dir, rows, n)
    writeSwapped(fs, schemaAnchor(dir), rows.schema.json)
    commitManifest(dir, Manifest(n, roots, revision))
  }

  /** Write `rows` into a fresh staging root laid out in `n` parts; returns
    * the parts it produced (a part whose rows are all gone emits no
    * directory — it simply leaves the manifest). Rows are clustered by
    * their target directory before the partitioned write: without the
    * repartition every input task opens a writer per part it touches (up
    * to tasks×n tiny files — the classic small-files problem); with it
    * each directory is written by exactly one task per job. The
    * repartition takes no count, so AQE coalesces it to as few tasks as
    * the bytes need. */
  private def writePartitioned(dir: String, rows: DataFrame, n: Int): Map[Int, String] = {
    val root = TableCommit.nextRoot(fs, dir)
    rows.withColumn("ipart", ipartCol(col("item_id"), n))
      .repartition(col("ipart"))
      .write.partitionBy("ipart").mode(SaveMode.Overwrite).parquet(s"$dir/$root")
    Option(fs.globStatus(new Path(s"$dir/$root/ipart=*"))).getOrElse(Array.empty)
      .flatMap(_.getPath.getName.stripPrefix("ipart=").toIntOption)
      .map(_ -> root).toMap
  }

  /** Open the committed table version: one manifest read yields its rows,
    * with the anchored schema — zero-row tables and merge-emptied parts
    * read as empty DataFrames, not errors — and the collection revision
    * they reflect. */
  def openVersion(uri: String, indexId: String): IndexVersion = {
    val dir = tableDir(uri, indexId)
    val m = loadManifest(dir)
    IndexVersion(openParts(dir, m, m.roots.keys), m.revision)
  }

  /** Committed rows of the given physical parts only, in ONE scan over
    * their directories in whatever roots own them (directory-level pruning
    * through the manifest — no file listing outside the named parts). A
    * one-part table was at most openCost bytes at its last whole-table
    * write, the size HyperStorage.uriScan reads in one task, so it is read
    * as one partition: an aggregate or top-k over it plans no Exchange. */
  private def openParts(dir: String, m: Manifest, parts: Iterable[Int]): DataFrame = {
    val schema = tableSchema(dir)
    val paths = parts.toSeq.sorted.flatMap(p => m.roots.get(p).map(root => s"$dir/$root/ipart=$p"))
    if (paths.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else {
      val rows = spark.read.schema(schema).parquet(paths: _*)
      if (m.n == 1) rows.coalesce(1) else rows
    }
  }

  def dropTable(uri: String, indexId: String): Unit = {
    fs.delete(new Path(tableDir(uri, indexId)), true)
    ()
  }

  /** Part-scoped merge: drop all index rows of `touchedItems`, insert
    * `replacement`, rewriting only the physical parts of `parts` — the
    * logical item hashes ([[ipartCol]]) of the touched items, which the
    * caller has already aggregated — and raise the committed revision to
    * `revision` (the batch's). The new staging root fully materializes
    * BEFORE the manifest swap, so the scoped self-read never races the
    * rewrite, and a crash at any point leaves the previous committed
    * version intact (atomicity across all touched parts — the manifest
    * swap is the single commit point). */
  def mergeTable(uri: String, indexId: String, touchedItems: DataFrame,
      replacement: DataFrame, revision: Long, parts: Seq[Int]): Unit = {
    val dir = tableDir(uri, indexId)
    val m = loadManifest(dir)
    val rev = math.max(m.revision, revision)
    if (parts.isEmpty) {
      // no rows to rewrite, but the batch still moved the collection on
      commitManifest(dir, m.copy(revision = rev))
      return
    }
    val touched = parts.map(_ % m.n).distinct
    val updated = openParts(dir, m, touched)
      .join(broadcast(touchedItems.select("item_id")), Seq("item_id"), "left_anti")
      .unionByName(replacement)
    val merged = m.copy(roots = (m.roots -- touched) ++ writePartitioned(dir, updated, m.n),
      revision = rev)
    commitManifest(dir, merged)
    // the superseded copies in roots that stay live go like whole roots
    // do: a reader re-opens per read (TableCommit)
    for (p <- touched; root <- m.roots.get(p) if merged.roots.values.exists(_ == root))
      fs.delete(new Path(s"$dir/$root/ipart=$p"), true)
    compactIfNeeded(dir, merged)
  }

  /** Rewrite the whole table into one fresh root at the part count its
    * bytes ask for, when either
    *  - merges scattered its parts over more than [[MaxRoots]] staging
    *    roots (cost: one full-table job, amortized over the ≥MaxRoots
    *    merges that caused it — the same background-compaction bargain
    *    cluster table formats strike), or
    *  - it grew past 2 · n · openCost, so its parts have outgrown the size
    *    a file is worth opening at.
    * The rows are unchanged, so the revision carries forward. */
  private def compactIfNeeded(dir: String, m: Manifest): Unit = {
    lazy val rows = openParts(dir, m, m.roots.keys)
    lazy val bytes = rows.queryExecution.optimizedPlan.stats.sizeInBytes
    if (m.roots.values.toSet.size > MaxRoots ||
        (m.n < IndexPartitions && bytes > 2 * m.n * BigInt(openCost))) {
      EngineMetrics(spark).inc("index.rewrites")
      val n = partsFor(bytes)
      commitManifest(dir, m.copy(n = n, roots = writePartitioned(dir, rows, n)))
    }
  }

  private def openCost: Long = spark.sessionState.conf.filesOpenCostInBytes

  /** The physical part count for a table of `bytes`: the smallest power of
    * two n with bytes / n ≤ openCost, capped at IndexPartitions. */
  private def partsFor(bytes: BigInt): Int =
    Iterator.iterate(1)(_ * 2)
      .find(n => n == IndexPartitions || bytes <= n * BigInt(openCost)).get
}

object IndexStore {
  /** Logical item-hash count of index tables, and the most physical parts a
    * table is laid out in. A 100 TB deployment raises it the same way
    * ContentStore.NumPartitions scales with the content log. */
  val IndexPartitions = 32

  /** Compaction threshold: maximum staging roots a table may scatter
    * across before it is rewritten into one. */
  val MaxRoots = 8

  /** A table version as its manifest records it: its physical part count
    * n, physical part → staging-root name (relative to the table dir), and
    * the collection revision. */
  private final case class Manifest(n: Int, roots: Map[Int, String], revision: Long)

  /** The manifest line keys of the revision record and the part count. */
  private val RevisionKey = "revision"
  private val PartsKey = "parts"

  /** The item hash of `itemId` modulo `n`: its logical part at the
    * default n = IndexPartitions, its physical part in an n-part layout
    * (n divides IndexPartitions, so that is the logical part mod n). */
  def ipartCol(itemId: Column, n: Int = IndexPartitions): Column =
    pmod(crc32(itemId), lit(n)).cast("int")

  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")

  private def encodeItem(it: IndexSortItem): String =
    Seq(it.fieldName, it.fieldType.getOrElse(""), it.order.getOrElse(""))
      .map(enc).mkString(":")

  private def decodeItem(s: String): IndexSortItem = {
    val Array(f, t, o) = s.split(":", -1)
    IndexSortItem(URLDecoder.decode(f, "UTF-8"),
      Some(t).filter(_.nonEmpty).map(URLDecoder.decode(_, "UTF-8")),
      Some(o).filter(_.nonEmpty).map(URLDecoder.decode(_, "UTF-8")))
  }
}
