package graft.pipeline

import org.apache.spark.sql.DataFrame

import scala.jdk.CollectionConverters._

/** Cache-lifecycle helpers: several pipeline stats persist a shared
  * intermediate (one corpus pass, two+ consumers) whose cache would
  * otherwise outlive the call — in a long-lived session running many
  * entries those add up (r7 advisory). Where the RESULT is small by
  * construction (groups², checkpoints, one row), the fix is to finish the
  * computation eagerly and release the intermediate before returning.
  */
object Caches {

  /** Materialize a SMALL result eagerly and release the given persisted
    * intermediates: collect the result (its jobs run while the caches are
    * still live), unpersist every intermediate, and return the rows as a
    * local relation with the exact original schema (types, nullability —
    * the driver's hasher is representation-sensitive). Only for results
    * bounded by construction — never corpus- or candidate-sized. */
  def localized(result: DataFrame, intermediates: DataFrame*): DataFrame = {
    val spark = result.sparkSession
    val rows = result.collect()
    intermediates.foreach(_.unpersist())
    spark.createDataFrame(rows.toSeq.asJava, result.schema)
  }

  /** Release the executor block store backing a `localCheckpoint()`ed
    * frame. `df.unpersist()` is a cache-manager uncache and does NOT
    * touch local-checkpoint RDD blocks (they were persisted at the RDD
    * layer, not registered with the CacheManager) — without this an
    * iterative loop holds O(rounds) superseded table copies on executors
    * until the ContextCleaner GCs the RDD references. Non-LogicalRDD
    * plans (a frame that was never checkpointed) are a no-op, and the
    * release is async (blocking = false) — the caller never waits on
    * block removal. */
  def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
