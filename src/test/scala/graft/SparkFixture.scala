package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (Test / fork := true). */
object SparkFixture {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4)
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
}
