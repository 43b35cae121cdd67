package graft.indexing

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.hadoop.fs.Path
import graft.engine.TableCommit
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
  *                                     reflects; then lines
  *                                     "ipart<TAB>root": which staging
  *                                     root currently owns each partition
  *     w-<G>/ipart=N/…parquet        — immutable staging roots, one per
  *                                     build/merge job
  * }}}
  * Index rows are hash-clustered by `crc32(item_id) % IndexPartitions`.
  *
  * The manifest's revision line is the commit record of the index as a
  * sink: the collection revision its rows reflect (the latest revision of
  * the content log it was built from, raised by every merged feed batch).
  * Index-served reads report it instead of re-deriving the revision from
  * the content log, and since one manifest read yields both the parts and
  * the revision, they always come from the same version.
  *
  * The item-hash partitioning makes incremental maintenance
  * PARTITION-SCOPED: a feed batch touching k items reads and rewrites at
  * most min(k, IndexPartitions) partitions into a NEW immutable staging
  * root, then commits through the manifest swap, so the merge is atomic
  * across every touched partition. The row-wise Cassandra MERGE the reference performs
  * (BackgroundContentTaskCompleter.scala:126-188) is thus expressed as
  * bulk partition rewrites with lineage truncated at every batch.
  *
  * When merges scatter a table's partitions across more than
  * [[IndexStore.MaxRoots]] roots, the table is compacted back into one
  * root (full rewrite, amortized over many merges) so read plans stay a
  * bounded union and small files don't accumulate.
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
    Manifest(lines.collect {
      case Array(p, root) if p != RevisionKey => p.toInt -> root
    }.toMap, revision)
  }

  /** A table version is exactly what its manifest lists. */
  private def commitManifest(dir: String, m: Manifest): Unit =
    TableCommit.commit(fs, dir,
      (s"$RevisionKey\t${m.revision}" +:
        m.parts.toSeq.sorted.map { case (p, root) => s"$p\t$root" }).mkString("\n"),
      m.parts.values.toSet)

  /** The ipart dirs a staging write actually produced (a partition whose
    * merge result is empty emits no dir — it simply leaves the manifest). */
  private def writtenParts(root: Path): Seq[Int] =
    Option(fs.globStatus(new Path(root, "ipart=*"))).getOrElse(Array.empty)
      .flatMap(_.getPath.getName.stripPrefix("ipart=").toIntOption).toSeq

  // ------------------------------------------------------------ tables

  /** Full (re)build: one fresh staging root owning every partition. The
    * schema anchor is a swapped write (a crash can never leave it
    * truncated), and it lands before the manifest commit; a table's
    * schema is a pure function of its IndexDef — a schema CHANGE always
    * goes through dropTable (delete + create) — so the
    * new-schema-over-old-manifest crash window rewrites an identical
    * schema and is benign. `revision` is evaluated after the rows are
    * written, so it may read an observation of the write job. */
  def writeTable(uri: String, indexId: String, rows: DataFrame,
      revision: => Long): Unit = {
    val dir = tableDir(uri, indexId)
    val root = TableCommit.nextRoot(fs, dir)
    writePartitioned(rows, s"$dir/$root")
    writeSwapped(fs, schemaAnchor(dir), rows.schema.json)
    commitManifest(dir, Manifest(
      writtenParts(new Path(dir, root)).map(_ -> root).toMap, revision))
  }

  /** Cluster rows by their target directory before the partitioned write:
    * without the repartition every input task opens a writer per ipart it
    * touches (up to tasks×IndexPartitions tiny files — the classic
    * small-files problem); with it each directory is written by exactly
    * one task per job. */
  private def writePartitioned(rows: DataFrame, dir: String): Unit = {
    rows.withColumn("ipart", ipartCol(col("item_id")))
      .repartition(IndexPartitions, col("ipart"))
      .write.partitionBy("ipart").mode(SaveMode.Overwrite).parquet(dir)
    ()
  }

  /** Open the committed table version: one manifest read yields its rows,
    * with the anchored schema — zero-row tables and merge-emptied
    * partitions read as empty DataFrames, not errors — and the collection
    * revision they reflect. */
  def openVersion(uri: String, indexId: String): IndexVersion = {
    val dir = tableDir(uri, indexId)
    val m = loadManifest(dir)
    IndexVersion(openParts(dir, m.parts, m.parts.keys).drop("ipart"), m.revision)
  }

  /** Committed rows of the given partitions only (directory-level pruning
    * through the manifest — no file listing outside the named parts). */
  private def openParts(dir: String, m: Map[Int, String],
      parts: Iterable[Int]): DataFrame = {
    val schema = tableSchema(dir).add("ipart", IntegerType)
    val byRoot = parts.toSeq.flatMap(p => m.get(p).map(root => (root, p)))
      .groupBy(_._1)
    byRoot.toSeq.sortBy(_._1).map { case (root, ps) =>
      spark.read.option("basePath", s"$dir/$root").schema(schema)
        .parquet(ps.map(p => s"$dir/$root/ipart=${p._2}"): _*)
    }.reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
  }

  def dropTable(uri: String, indexId: String): Unit = {
    fs.delete(new Path(tableDir(uri, indexId)), true)
    ()
  }

  /** Partition-scoped merge: drop all index rows of `touchedItems`, insert
    * `replacement`, rewriting only `parts` — the item-hash partitions
    * ([[ipartCol]]) of the touched items, which the caller has already
    * aggregated — and raise the committed revision to `revision` (the
    * batch's). The new staging root fully materializes BEFORE the manifest
    * swap, so the scoped self-read never races the rewrite, and a crash at
    * any point leaves the previous committed version intact (atomicity
    * across all touched partitions — the manifest swap is the single
    * commit point). */
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
    val scoped = openParts(dir, m.parts, parts).drop("ipart")
    val updated = scoped
      .join(broadcast(touchedItems.select("item_id")), Seq("item_id"), "left_anti")
      .unionByName(replacement)
    val root = TableCommit.nextRoot(fs, dir)
    writePartitioned(updated, s"$dir/$root")
    val merged = Manifest((m.parts -- parts) ++
      writtenParts(new Path(dir, root)).map(_ -> root), rev)
    commitManifest(dir, merged)
    compactIfScattered(dir, merged)
  }

  /** Bound read-plan width and file count: when a table's partitions are
    * scattered over more than [[MaxRoots]] staging roots, rewrite it into
    * one root (cost: one full-table job, amortized over the ≥MaxRoots
    * merges that caused it — the same background-compaction bargain
    * cluster table formats strike). The rows are unchanged, so the
    * revision carries forward. */
  private def compactIfScattered(dir: String, m: Manifest): Unit =
    if (m.parts.values.toSet.size > MaxRoots) {
      val rows = openParts(dir, m.parts, m.parts.keys).drop("ipart")
      val root = TableCommit.nextRoot(fs, dir)
      writePartitioned(rows, s"$dir/$root")
      commitManifest(dir, m.copy(parts =
        writtenParts(new Path(dir, root)).map(_ -> root).toMap))
    }
}

object IndexStore {
  /** Item-hash partition count for index tables. Small enough to keep
    * little indexes compact; a 100 TB deployment raises it the same way
    * ContentStore.NumPartitions scales with the content log. */
  val IndexPartitions = 32

  /** Compaction threshold: maximum staging roots a table may scatter
    * across before it is rewritten into one. */
  val MaxRoots = 8

  /** A table version as its manifest records it: ipart → staging-root
    * name (relative to the table dir), and the collection revision. */
  private final case class Manifest(parts: Map[Int, String], revision: Long)

  /** The manifest line key of the revision record. */
  private val RevisionKey = "revision"

  def ipartCol(itemId: Column): Column =
    pmod(crc32(itemId), lit(IndexPartitions)).cast("int")

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
