package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (Test / fork := true). */
object SparkFixture {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4)
}

trait SparkFixture {
  lazy val spark: SparkSession = SparkFixture.spark
}
