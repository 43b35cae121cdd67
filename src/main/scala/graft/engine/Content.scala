package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Content-table model.
  *
  * Mirrors the reference's `content` storage row (scheme.cql:1-11): a
  * document URI partitions a collection; items cluster by `item_id`;
  * `revision` is per-document monotonic; deletes are tombstones. Bodies are
  * JSON text parsed lazily (Db.scala:34-38) — here a JSON string column.
  *
  * At scale the physical layout is an append-only log (every write is a new
  * row at revision N); the queryable current state is the latest-revision
  * view. Partition-by `document_uri` means per-collection locality exactly
  * like the reference's Cassandra partition key. Callers that know the
  * target URI must filter the log BEFORE calling [[latestView]] so the
  * filter lands under the window (partition pruning at the scan; the window
  * partitions by the same key so pushing the predicate below it is
  * semantics-preserving).
  */
object Content {
  val schema: StructType = StructType(Seq(
    StructField("document_uri", StringType, nullable = false),
    StructField("item_id", StringType, nullable = false),
    StructField("revision", LongType, nullable = false),
    StructField("body", StringType),
    StructField("is_deleted", BooleanType, nullable = false),
    StructField("created_at", TimestampType),
    StructField("modified_at", TimestampType)
  ))

  /** One row per (uri, item), highest revision wins. Includes tombstoned
    * rows — callers decide visibility (the write path needs dead rows to
    * know revisions; the read path applies [[visible]]).
    *
    * Implemented as a max_by aggregate, not a row_number window: it does
    * map-side partial aggregation, and at cluster scale shuffles one
    * pre-combined row per (uri, item) per mapper instead of the whole log.
    * max_by's struct buffer cannot be hash-aggregated, so both sides are a
    * SortAggregate over a Sort. Over a single-partition input (a URI read
    * in one task, [[HyperStorage.uriScan]]) the fold is one task with one
    * Sort and no Exchange. */
  def latestRows(log: DataFrame): DataFrame = {
    val cols = log.columns
    val payload = cols.filterNot(c => c == "document_uri" || c == "item_id")
    log.groupBy("document_uri", "item_id")
      .agg(max_by(struct(payload.map(col): _*), col("revision")).as("__r"))
      .select(col("document_uri") +: col("item_id") +:
        payload.map(c => col(s"__r.$c").as(c)): _*)
      .select(cols.map(col): _*)
  }

  /** Visibility on top of [[latestRows]]: drop per-key tombstones, and a
    * collection-level tombstone at (uri, "", rev=R) hides every item with
    * revision <= R — the reference's static `is_deleted` semantics
    * (PrimaryWorker.scala:310-328: collection delete makes GET 404 and
    * cascades; items re-created after the delete get revision > R and
    * become visible again).
    *
    * The tombstone side is one row per DELETED collection — usually tiny,
    * so the broadcast hint is the default. It is NOT unconditional: a
    * store that has accumulated tens of millions of deleted collections
    * would turn the hint into a multi-GB forced broadcast, so above
    * [[TombstoneBroadcastMax]] estimated tombstone rows the hint is
    * dropped and AQE picks the strategy from runtime sizes. */
  def visible(latest: DataFrame): DataFrame = {
    val tomb = latest
      .filter(col("item_id") === "" && col("is_deleted"))
      .select(col("document_uri"), col("revision").as("__tomb_rev"))
    // rowCount is rarely known statically; fall back to bytes (64B/row ≈
    // a URI string + a long — order-of-magnitude is all the guard needs)
    val stats = tomb.queryExecution.optimizedPlan.stats
    // keep the estimate as BigInt: sizeInBytes can exceed Long range
    // (join-product estimates), and a .toLong wrap-around to negative
    // would force exactly the broadcast this guard exists to prevent
    val estRows: BigInt = stats.rowCount
      .getOrElse(stats.sizeInBytes / 64)
    val tombSide =
      if (estRows <= BigInt(TombstoneBroadcastMax)) broadcast(tomb) else tomb
    latest.filter(!col("is_deleted"))
      .join(tombSide, Seq("document_uri"), "left_outer")
      .filter(col("__tomb_rev").isNull || col("revision") > col("__tomb_rev"))
      .drop("__tomb_rev")
  }

  /** Above this many estimated collection tombstones, [[visible]] stops
    * forcing the broadcast (≈10M rows ≈ 640MB estimated — past any sane
    * broadcast size). */
  val TombstoneBroadcastMax: Long = 10L * 1000 * 1000

  /** Latest visible state from an append log. */
  def latestView(log: DataFrame): DataFrame = visible(latestRows(log))

  /** Empty content log: a zero-row local relation, which the optimizer
    * sizes from its rows. (An `emptyRDD` relation has no statistics and is
    * estimated at `spark.sql.defaultSizeInBytes`, so an index built over a
    * log applied to it sized its table as about 1e21 bytes.) */
  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)

  /** Adapt an arbitrary table into collection form: every row becomes an
    * item of `collectionUri` with the given id column; remaining columns
    * are serialized into the JSON body (id injected, reference
    * PrimaryWorker.scala:378-380). */
  def fromTable(df: DataFrame, collectionUri: String, idCol: String): DataFrame = {
    val bodyCols = df.columns.filterNot(_ == idCol)
    df.select(
      lit(collectionUri).as("document_uri"),
      col(idCol).cast(StringType).as("item_id"),
      lit(1L).as("revision"),
      to_json(struct(col(idCol).cast(StringType).as("id") +: bodyCols.map(col): _*))
        .as("body"),
      lit(false).as("is_deleted"),
      lit(null).cast(TimestampType).as("created_at"),
      lit(null).cast(TimestampType).as("modified_at")
    )
  }
}
