package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built: Verify, Bench, Probe and
  * the test fixture all run on these confs. */
object GraftSession {

  /** Cores from SPARK_GRAFT_CPUS, else the machine's cores capped at 32 (an
    * unset variable must not silently throttle a run to a few cores). A
    * non-integer setting fails at start: Bench writes the value unquoted
    * into its JSON line, which would otherwise not parse. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(v => v.trim.toIntOption
      .getOrElse(sys.error(s"SPARK_GRAFT_CPUS must be an integer, got '$v'")))
    .getOrElse(math.min(Runtime.getRuntime.availableProcessors, 32))

  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      // EntryHelpers.events reads TIMESTAMP(NANOS) parquet as longs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // events() MICROS normalization is value-preserving only under UTC;
      // pin it in the builder, not just the launcher's -D flag
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
