package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * failures.json (name → message of every query whose dump failed). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_ONLY=a,b,c dumps just those
    // queries (the driver never sets it, so its full-corpus run is
    // unaffected); oracle_sql.json below is filtered the same way so
    // tools/check_oracle.py checks exactly the dumped subset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def keep(name: String) = only.forall(_.contains(name))
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(q => keep(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = Option(e.getMessage).getOrElse(e.toString)
        System.err.println(s"[verify] $name failed: ${failures(name)}")
      }
      // a few queries persist() small reused intermediates inside their
      // closure; the write above is their final consumer, so drop the cache
      // here — otherwise caches accumulate for the session and GC-pressure
      // every later query in the full-corpus run
      finally spark.catalog.clearCache()
    }
    // the layout queries, the persisted ANN index and the staged stream
    // inputs leave artifacts behind by design (later reads go through
    // them) — every result is materialized above, so tear them down here
    SparkEntry.cleanup(spark, sfDir)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failures.json"), failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // full declared-query list so tooling can flag queries whose dump FAILED
    // (a missing output dir must read as a failure, not be skipped)
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      SparkEntry.queries.keys.filter(keep).toSeq.sorted.map(q)
        .mkString("[", ",", "]"))
    spark.stop()
  }
}
