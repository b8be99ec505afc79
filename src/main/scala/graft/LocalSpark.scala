package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point runs on: `Bench`, `Verify`, the
  * `tools` mains and the test suites. Every session setting lives here:
  *   - `local[cores]` with one shuffle partition per core;
  *   - UI off, session time zone UTC;
  *   - `spark.sql.legacy.parquet.nanosAsLong`: a TIMESTAMP(NANOS) parquet
  *     `events.ts` arrives as long, and [[queries.CoreHelpers.microsTs]]
  *     truncates it to micros as DuckDB's reader does;
  *   - log level WARN, plus [[LogLevels.quietCheckpointRelease]].
  *
  * Library operators and queries never call this: they take the session
  * they are given, and a host application keeps its own logging policy.
  */
object LocalSpark {

  /** `SPARK_GRAFT_CPUS` if set, else the host's processors. */
  private def hostCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = hostCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LogLevels.quietCheckpointRelease()
    spark
  }
}
