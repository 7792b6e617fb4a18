package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration of the harness mains (Bench, Verify,
  * Plans), so the verified and plan-dumped config IS the benched config.
  * `cpus` sets both the local core count and the shuffle width. The test
  * session (TestSpark) and ScaleUp size theirs differently on purpose.
  */
object GraftSession {
  def build(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // sized to the bench SFs (tens-of-MB single-file tables): small enough
      // that scans split across cores, irrelevant at production file sizes
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // tz-naive parquet timestamps → TIMESTAMP (UTC session), not NTZ,
      // matching the DuckDB oracle's naive-as-UTC epoch values
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
