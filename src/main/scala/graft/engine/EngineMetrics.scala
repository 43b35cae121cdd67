package graft.engine

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.SparkSession

/** Per-session engine metrics — the repo's analog of the reference's
  * metrics module (reference src/main/scala/eu/inn/hyperstorage/metrics/
  * Metrics.scala, MetricsReporter.scala: named per-operation meters a
  * reporter samples into rates). Counters here record ONLY numbers the
  * query/write paths already compute as part of serving the request
  * (static-aggregate row counts, planner decisions, guard activity) —
  * neither recording nor reading a metric ever schedules a Spark job.
  *
  * Stable names:
  *   - `query.selects`, `query.not_found`, `query.rows.scanned`,
  *     `query.rows.accepted`, `query.rows.skipped` — primary-path
  *     collection queries ([[HyperStorage.query]]); row counts come from
  *     the piggybacked static aggregate (tombstone-free case) or the
  *     tombstone recount, so every published count is exact for the
  *     served query. One honest gap: a tombstoned-then-repopulated
  *     collection queried WITHOUT a filter publishes no row counts at
  *     all (the piggybacked counts include pre-tombstone rows there, and
  *     no recount runs when there is no predicate) — publishing nothing
  *     beats publishing wrong numbers, and adding a count job just for
  *     the meter would violate the zero-extra-jobs rule above.
  *   - `query.skip_guard.recount`, `query.skip_guard.boundary`,
  *     `query.skip_guard.exceeded` — extra jobs / rejections on the
  *     skipMax contract, the reference's skippedRows meter.
  *   - `planner.selects`, `planner.source.primary`,
  *     `planner.source.<indexId>`, `planner.pushdown.filters` — index
  *     selection ([[graft.indexing.QueryPlanner]]'s de-facto EXPLAIN).
  *   - `index.rows.scanned`, `index.rows.accepted`, `index.rows.skipped`
  *     — index-served scans, when the residual guard measures them.
  *   - `index.rewrites` — whole-table index rewrites after a merge
  *     ([[graft.indexing.IndexStore]]: scattered roots or outgrown parts).
  *   - `write.batches` — [[HyperStorage.applyOps]] invocations.
  *   - `write.ops.rejected` — per-op 404/409 outcomes, counted by an
  *     accumulator riding applyOps' own fold (rejections never reach the
  *     feed, so the publish meters can't see them).
  *   - `feed.events.published` / `.put` / `.patch` / `.delete` /
  *     `feed.events.completed` — the pipeline's delivery meters
  *     ([[graft.streaming.FeedPipeline]]): published counts successful
  *     sink sends (accumulators riding the publish itself), completed is
  *     added only after the ledger completion markers commit — a crash
  *     between publish and completion leaves published > completed,
  *     which is exactly what recovery drains. At-least-once on batch
  *     replay, like the delivery contract itself.
  *
  * Registries are keyed by SparkSession (process-wide rates, like the
  * reference's registry); `reset()` scopes a measurement window. */
object EngineMetrics {

  final class Registry {
    private val counters = new ConcurrentHashMap[String, LongAdder]()

    def add(name: String, n: Long): Unit =
      counters.computeIfAbsent(name, _ => new LongAdder).add(n)

    def inc(name: String): Unit = add(name, 1L)

    def get(name: String): Long = {
      val a = counters.get(name)
      if (a == null) 0L else a.sum()
    }

    /** Stable-ordered snapshot for reporting/diffing. */
    def snapshot: Map[String, Long] = {
      val b = Map.newBuilder[String, Long]
      counters.forEach((k, v) => b += k -> v.sum())
      b.result()
    }

    def reset(): Unit = counters.clear()
  }

  // weakly-keyed: a long-lived driver minting per-tenant sessions via
  // spark.newSession() must not leak one Registry (and a strong session
  // reference) per session forever. Collections.synchronizedMap overrides
  // computeIfAbsent with the map lock since Java 8, so the get-or-create
  // stays atomic.
  private val bySession: java.util.Map[SparkSession, Registry] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Registry]())

  def apply(spark: SparkSession): Registry =
    bySession.computeIfAbsent(spark, _ => new Registry)
}
