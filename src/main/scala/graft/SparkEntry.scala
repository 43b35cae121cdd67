package graft

import graft.entries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one [[entries.Entry]] per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline families), each with a DuckDB-runnable
  * oracle over the same parquet tables. Column names are aligned on both
  * sides (the driver's compare sorts columns by name before hashing). The
  * entries live in one file per family under `graft/entries/`, each Spark
  * body next to its oracle. */
object SparkEntry {

  /** Every entry, in name order: the order Bench and Verify run them. */
  val entries: Seq[Entry] = Seq(EngineEntries.all, IndexEntries.all,
    StreamEntries.all, AnalyticsEntries.all, DedupEntries.all,
    SimilarityEntries.all, TextEntries.all, SamplingEntries.all,
    MultimodalEntries.all).flatten.sortBy(_.name)

  locally {
    val dups = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty, s"duplicate entry names: ${dups.toSeq.sorted.mkString(", ")}")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.run).toMap

  val oracleSql: Map[String, String] =
    entries.map(e => e.name -> e.oracleSql).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q3_shipping")(spark, "/root/testdata/sf0.001")
}
