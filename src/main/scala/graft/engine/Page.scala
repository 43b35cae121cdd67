package graft.engine

import graft.hql.FieldResolver
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The query semantics both collection-query paths share — the primary
  * source ([[HyperStorage.query]]) and an index ([[graft.indexing.QueryPlanner]])
  * differ only in the rows, counts and order they pass in:
  *
  *   - [[guard]]: the skipMax contract;
  *   - [[take]]: the page itself;
  *   - [[before]] / [[after]]: the strict lexicographic comparison the
  *     guard's boundary and the primary cursor resume both use.
  *
  * An order is a sequence of [[Key]]s. Ascending keys put nulls (missing
  * sort fields) LAST, descending keys FIRST — the normKey contract
  * (CollectionOrderingSpec), so reversing an order reverses every
  * comparison exactly. Every source's order ends with `item_id`.
  *
  * Jobs the guard launches are charged to this file's call sites, not to
  * HyperStorage.scala. */
object Page {

  final case class Key(column: Column, ascending: Boolean) {
    def sortOrder: Column =
      if (ascending) column.asc_nulls_last else column.desc_nulls_first
    def reverse: Key = copy(ascending = !ascending)
  }

  /** The page: `orderBy(order).limit(size)` when the source returns rows in
    * the requested order by itself (`served`); otherwise a residual top-k
    * over the requested sort, tie-broken by the order's `item_id` key. */
  def take(rows: DataFrame, order: Seq[Key], served: Boolean, sort: Seq[SortBy],
      resolver: FieldResolver, size: Int): DataFrame =
    if (served) rows.orderBy(order.map(_.sortOrder): _*).limit(size)
    else HyperStorage.sortAndLimit(rows, sort, resolver, order.last.sortOrder, size)

  /** Rows strictly before `boundary` in `order`: the first key that differs
    * decides (`<=>` on the prefix, so null keys tie with null). */
  def before(order: Seq[Key], boundary: Seq[Column]): Column =
    order.indices.map { i =>
      val (Key(c, asc), b) = (order(i), boundary(i))
      val first =
        if (asc) when(b.isNull, c.isNotNull).otherwise(coalesce(c < b, lit(false)))
        else when(b.isNull, lit(false)).otherwise(c.isNull || c > b)
      val ties = order.take(i).zip(boundary).map { case (k, v) => k.column <=> v }
      (ties :+ first).reduce(_ && _)
    }.reduce(_ || _)

  /** Rows strictly after `boundary` in `order`. */
  def after(order: Seq[Key], boundary: Seq[Column]): Column =
    before(order.map(_.reverse), boundary)

  /** The skipMax contract (reference HyperbusAdapter.scala:181-197,
    * 278-283): the source is scanned in `order`, and the query fails once
    * more than `skipMax` rows were rejected by `pred` before the page
    * fills. The page fills at the `target`-th accepted row: `size` when
    * the source serves the requested order (`served`), `size + skipMax`
    * when the page is a residual top-k over-fetch. Rejections after that
    * row do not count, so a selective filter whose page fills early
    * passes. A NULL predicate (missing field) rejects the row.
    *
    * `scannedRows`/`acceptedRows` count `scanned` and its `pred`-accepted
    * rows; the caller already has them. Only when the rejections exceed
    * `skipMax` does the positional check run: one job finds the boundary
    * (a top-`target` of the accepted rows, then the reverse order's top-1,
    * so one row reaches the driver), one counts the rejections before it. */
  def guard(scanned: DataFrame, pred: Column, scannedRows: Long,
      acceptedRows: Long, order: Seq[Key], served: Boolean, size: Int,
      skipMax: Int): Unit = {
    if (scannedRows - acceptedRows <= skipMax) return
    val metrics = EngineMetrics(scanned.sparkSession)
    def refuse(): Nothing = {
      metrics.inc("query.skip_guard.exceeded")
      throw new QuerySkippedRowsLimited(skipMax)
    }
    val target = if (served) size.toLong else size.toLong + skipMax
    if (acceptedRows < target) refuse()
    metrics.inc("query.skip_guard.boundary")
    val accepted = coalesce(pred, lit(false))
    val boundary = scanned.filter(accepted)
      .orderBy(order.map(_.sortOrder): _*).limit(math.min(target, Int.MaxValue).toInt)
      .select(order.map(_.column): _*)
      .orderBy(order.map(_.reverse.sortOrder): _*).limit(1).collect().head
    val skipped = scanned.filter(!accepted && before(order, boundary.toSeq.map(lit))).count()
    if (skipped > skipMax) refuse()
  }
}
