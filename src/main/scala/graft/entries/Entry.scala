package graft
package entries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One entry of the correctness contract: the Spark body that Verify and
  * Bench run over a scale-factor directory of parquet tables, and the
  * DuckDB SQL over the same tables whose result the body's output is
  * hash-checked against. */
final case class Entry(name: String, run: (SparkSession, String) => DataFrame,
    oracleSql: String)
