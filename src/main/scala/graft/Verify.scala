package graft
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated substrings — run matching entries
    // only (local iteration; the driver always passes exactly two args)
    val only = args.drop(2).headOption.map(_.split(',').toSeq)
    val spark = GraftSession.local(GraftSession.cpus)
    val runner = new Runner(spark)
    new java.io.File(outDir).mkdirs()
    for (e <- SparkEntry.entries if only.forall(_.exists(e.name.contains)))
      runner.run(e, sfDir)(_.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${e.name}"))
        .failure.foreach(x => System.err.println(s"[verify] ${e.name} failed: ${x.getMessage}"))
    val json = new ObjectMapper().createObjectNode()
    SparkEntry.entries.foreach(e => json.put(e.name, e.oracleSql))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json.toString)
    spark.stop()
  }
}
