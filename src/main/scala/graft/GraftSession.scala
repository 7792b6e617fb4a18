package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration and environment of the harness mains
  * (Bench, Verify, Plans), so the verified and plan-dumped config IS the
  * benched config. Each setting is read here once:
  * - `SPARK_GRAFT_CPUS` ([[cpus]], default 32): the local core count and
  *   the shuffle width;
  * - `SPARK_GRAFT_SF_DIR` ([[sfDir]], default [[defaultSfDir]]): the
  *   corpus Bench and Plans run against;
  * - `SPARK_GRAFT_ONLY` ([[keep]]): a comma-separated entry subset for
  *   local iteration (the full-corpus runs never set it).
  * The test session (TestSpark) and ScaleUp size theirs differently on
  * purpose; ScaleUp takes only [[cpus]] from here.
  */
object GraftSession {
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  val defaultSfDir = "/root/testdata/sf0.1"

  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", defaultSfDir)

  /** The `SPARK_GRAFT_ONLY` subset, if set. */
  val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

  /** Whether entry `name` is in the `SPARK_GRAFT_ONLY` subset (every entry
    * when it is unset). */
  def keep(name: String): Boolean = only.forall(_.contains(name))

  def build(): SparkSession = {
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
