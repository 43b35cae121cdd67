package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared local session for the whole test JVM (Test / fork := true). */
object SparkFixture {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4)

  private object Plans extends AdaptiveSparkPlanHelper

  /** Shuffle exchanges in `plan`: adaptive stages, subqueries and the plans
    * of the caches it reads included. */
  private def shuffles(plan: SparkPlan): Int =
    Plans.collectWithSubqueries(plan) {
      case _: ShuffleExchangeLike => 1
      case m: InMemoryTableScanExec => shuffles(m.relation.cachedPlan)
    }.sum
}

trait SparkFixture {
  lazy val spark: SparkSession = SparkFixture.spark

  /** Run `body` with the session conf `key` set to `value`, then restore
    * the key's previous setting. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Shuffle exchanges in the executed plans of every action `body` runs
    * ([[SparkFixture.shuffles]]). */
  def shufflesOf(body: => Any): Int = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; Bridge.drainListeners(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    require(!plans.isEmpty, "the body ran no action")
    plans.toArray(Array.empty[SparkPlan]).map(SparkFixture.shuffles).sum
  }
}
