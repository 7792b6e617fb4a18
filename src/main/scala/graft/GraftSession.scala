package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration and the harness environment.
  *
  * [[builder]] owns the semantic settings every graft session carries
  * (the ones the oracle hashes depend on, plus AQE on and the UI off);
  * each caller sizes its own session on top of it: [[build]] for the
  * harness mains (Bench, Verify, Plans), so the verified and plan-dumped
  * config IS the benched config, and ScaleUp and the test session for
  * themselves. Each environment setting is read here once:
  * - `SPARK_GRAFT_CPUS` ([[cpus]], default 32): the harness's local core
  *   count and shuffle width;
  * - `SPARK_GRAFT_SF_DIR` ([[sfDir]], default [[defaultSfDir]]): the
  *   corpus Bench and Plans run against;
  * - `SPARK_GRAFT_ONLY` ([[keep]]): a comma-separated entry subset for
  *   local iteration (the full-corpus runs never set it).
  */
object GraftSession {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt)

  val defaultSfDir = "/root/testdata/sf0.1"

  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", defaultSfDir)

  /** The `SPARK_GRAFT_ONLY` subset, if set. */
  val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

  /** Whether entry `name` is in the `SPARK_GRAFT_ONLY` subset (every entry
    * when it is unset). */
  def keep(name: String): Boolean = only.forall(_.contains(name))

  /** The parquet timestamp settings `Tables.events` requires of a
    * session: `events.ts` is TIMESTAMP(NANOS), which the vectorized reader
    * only reads as long nanoseconds, and tz-naive parquet timestamps must
    * read as TIMESTAMP (UTC session), not NTZ, matching the DuckDB
    * oracle's naive-as-UTC epoch values.
    */
  val parquetTimestamps: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  /** A local session on `cores` cores with the semantic settings. */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.session.timeZone", "UTC")
      .config(parquetTimestamps)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")

  /** The harness session: [[cpus]] cores and shuffle width. */
  def build(): SparkSession = {
    val spark = builder(cpus)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      // sized to the bench SFs (tens-of-MB single-file tables): small enough
      // that scans split across cores, irrelevant at production file sizes
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
