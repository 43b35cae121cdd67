package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.hadoop.fs.Path
import java.util.zip.CRC32

/** Physical layout of the content log: parquet partitioned by
  * `crc32(document_uri) % NumPartitions` — the reference's partition
  * scheme (TransactionLogic.scala:11, 26-30: CRC32 % 1024). A per-URI read
  * prunes to ONE directory partition at the FileScan (PartitionFilters),
  * so point gets and collection queries touch 1/256 of a 100 TB store
  * before any row is read; the bound on partition count is the same idea
  * as the reference's ≤1024-node scale ceiling.
  *
  * A store is a [[TableCommit]] directory whose `_manifest` names the one
  * live root, `<path>/w-<G>/part=…[/batch=…]`. Appends and batch writes
  * land in that root; compaction and overwrites commit a fresh root. */
object ContentStore {
  val NumPartitions = 256

  def partitionCol(uri: Column): Column =
    pmod(crc32(uri), lit(NumPartitions)).cast("int")

  /** Driver-side partition id of one URI (must match [[partitionCol]]). */
  def partitionOf(uri: String): Int = {
    val c = new CRC32()
    c.update(uri.getBytes("UTF-8"))
    (c.getValue % NumPartitions).toInt
  }

  /** Append a content-log slice to the committed version, or (any other
    * `mode`) commit it as a whole new version. */
  def write(log: DataFrame, path: String,
      mode: SaveMode = SaveMode.Append): Unit = {
    val rows = log.withColumn("part", partitionCol(col("document_uri")))
      .write.partitionBy("part").mode(mode)
    if (mode == SaveMode.Append) extend(log.sparkSession, path)(rows.parquet)
    else commitRoot(log.sparkSession, path)(rows.parquet)
  }

  /** Idempotent per-batch write: rows land under (part, batch=batchTs) and
    * a REPLAY of the same batch dynamically overwrites exactly its own
    * partitions — the standard Spark exactly-once file-sink discipline.
    * Readers that must see only COMMITTED prior state filter the batch
    * column (see FeedPipeline.runBatch). */
  def writeBatch(log: DataFrame, path: String, batchTs: Long): Unit =
    extend(log.sparkSession, path)(
      log.withColumn("part", partitionCol(col("document_uri")))
        .withColumn("batch", lit(batchTs))
        .write.partitionBy("part", "batch")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite).parquet)

  /** Open the committed version as a HyperStorage whose per-URI reads
    * carry the partition predicate (directory pruning before any IO) and
    * know their partition's bytes. The `part` column rides along in the
    * log; engine projections ignore it. */
  def open(spark: SparkSession, path: String): HyperStorage =
    scan(spark, liveRoot(spark, path).getOrElse(
      throw new java.io.FileNotFoundException(s"no committed store at $path")))
      .map { log =>
        val bytes = partBytes(log)
        new HyperStorage(spark, log, Some(UriLayout(
          pruner = uri => col("part") === partitionCol(uri),
          bytes = uri => bytes.getOrElse(partitionOf(uri), 0L))))
      }
      .getOrElse(HyperStorage(spark, Content.empty(spark)))

  /** Data bytes under each `part` directory of a scan, summed from the file
    * listing its relation took when the scan was created: no FS call, no
    * job. (The optimizer's size estimate cannot stand in: it is the whole
    * table's, not pruned by partition filters.) */
  private def partBytes(log: DataFrame): Map[Int, Long] =
    log.queryExecution.analyzed.collectFirst {
      case r: LogicalRelation => r.relation
    }.collect { case fs: HadoopFsRelation =>
      val part = fs.partitionSchema.fieldIndex("part")
      fs.location.listFiles(Nil, Nil)
        .groupMapReduce(_.values.getInt(part))(_.files.map(_.getLen).sum)(_ + _)
    }.getOrElse(Map.empty)

  /** [[open]], or an empty in-memory log when nothing has been committed
    * yet (the bootstrap case of a write-back loop). */
  def openOrEmpty(spark: SparkSession, path: String): HyperStorage =
    if (liveRoot(spark, path).isEmpty) HyperStorage(spark, Content.empty(spark))
    else open(spark, path)

  /** Compaction — the role Cassandra's compaction plays for the reference
    * (scheme.cql's leveled store): rewrite the log keeping only the LATEST
    * revision per (document_uri, item_id). Every read path goes through
    * the latest-revision view, and per-key max revisions (hence static
    * revisions and tombstone visibility) are preserved, so reads are
    * invariant — but a store that accumulated one row per WRITE shrinks
    * back to one row per KEY. Latest tombstone rows are kept (dropping
    * them would lower collection static revisions); aging them out is a
    * separate retention policy.
    *
    * The rewrite is a new version, committed like any other (see
    * [[TableCommit]]). A `batch` column (FeedPipeline stores) keeps its
    * values and its partition layout, so batch-replay dynamic overwrite
    * and prior-state batch exclusion still address the right directories.
    *
    * Replay safety for batch stores: a crashed batch's replay re-derives
    * its revisions from the PRE-batch state (FeedPipeline.runBatch reads
    * `batch =!= ts`), so the rows of a batch that might still replay —
    * and every key's pre-state relative to it — must survive compaction
    * un-folded. Rows with `batch >= foldBelowBatch` are therefore passed
    * through raw; only the prefix folds. The default keeps the NEWEST
    * batch raw (a single-writer stream has at most one incomplete
    * trailing batch); pass `Long.MaxValue` only when every transaction is
    * known complete (e.g. Ledger.recoveryWorkList is empty). latestRows
    * of (folded prefix ∪ raw tail) equals latestRows of the original for
    * every tail batch's state read, so replays still see exact pre-batch
    * state. */
  def compact(spark: SparkSession, path: String,
      foldBelowBatch: Option[Long] = None): Unit =
    liveRoot(spark, path).flatMap(scan(spark, _)).foreach { log =>
      val hasBatch = log.columns.contains("batch")
      val partCols = Seq("part") ++ (if (hasBatch) Seq("batch") else Nil)
      val compacted =
        if (!hasBatch) Content.latestRows(log)
        else {
          // partition-dir read-back narrows batch to int — cast before max
          val cutoff = foldBelowBatch.getOrElse(
            log.agg(max(col("batch").cast("long"))).collect()(0) match {
              case r if r.isNullAt(0) => Long.MinValue
              case r => r.getLong(0)
            })
          Content.latestRows(log.filter(col("batch") < cutoff))
            .unionByName(log.filter(col("batch") >= cutoff))
        }
      commitRoot(spark, path)(compacted
        .repartition(partCols.map(col): _*)
        .write.partitionBy(partCols: _*).parquet)
    }

  // ------------------------------------------------------------ versions

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Path of the root the manifest commits; None before the first commit.
    * `part=` directories with no manifest are the pre-manifest layout:
    * fail with intent rather than hide or half-read them. */
  private def liveRoot(spark: SparkSession, path: String): Option[String] = {
    val fs = fsOf(spark, path)
    TableCommit.readManifest(fs, path).map(root => s"$path/$root").orElse {
      if (Option(fs.globStatus(new Path(path, "part=*"))).exists(_.nonEmpty))
        throw new IllegalStateException(
          s"$path uses the pre-manifest layout; rebuild the store")
      None
    }
  }

  /** Whole-version write: fill a fresh root, commit it, GC the old one. */
  private def commitRoot(spark: SparkSession, path: String)(
      write: String => Unit): Unit = {
    val fs = fsOf(spark, path)
    val root = TableCommit.nextRoot(fs, path)
    write(s"$path/$root")
    TableCommit.commit(fs, path, root, Set(root))
  }

  /** Write into the committed root (the first write to a path commits a
    * fresh one); roots orphaned by a crashed commit are GC'd after. */
  private def extend(spark: SparkSession, path: String)(
      write: String => Unit): Unit = liveRoot(spark, path) match {
    case Some(root) =>
      write(root)
      TableCommit.gcRoots(fsOf(spark, path), path, Set(new Path(root).getName))
    case None => commitRoot(spark, path)(write)
  }

  /** A root's rows; None when it holds no data files, as a first write
    * whose every op was rejected commits. */
  private def scan(spark: SparkSession, root: String): Option[DataFrame] =
    Option.when(fsOf(spark, root).listStatus(new Path(root))
      .exists(!_.getPath.getName.startsWith("_")))(spark.read.parquet(root))
}
