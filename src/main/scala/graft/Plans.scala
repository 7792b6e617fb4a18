package graft

/** Plan-capture tool for the optimization rounds: writes
  * `explain("formatted")` of each named SparkEntry query (built against
  * SPARK_GRAFT_SF_DIR) to `<outDir>/<query>_<tag>.txt` — the before/after
  * evidence files under plans/rNN/ that let the judge check plan claims
  * without running Spark. Same session (GraftSession) as Bench so the
  * captured plans are the benched plans. The dumps are stable run to
  * run: the process's scratch root prints as `<scratch>` and the
  * session-wide `plan_id=N` counter as `plan_id=*` (`#N` expression ids
  * stay). Usage:
  *   sbt "runMain graft.Plans plans/r20 before q_topk,s_index_recall_curve"
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val Array(outDir, tag, names) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    new java.io.File(outDir).mkdirs()
    for (n <- names.split(",").map(_.trim).filter(_.nonEmpty)) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .replace(graft.util.Dirs.root.getAbsolutePath, "<scratch>")
        .replaceAll("plan_id=\\d+", "plan_id=*")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"), plan)
      spark.catalog.clearCache()
    }
    SparkEntry.cleanup(spark, sfDir)
    spark.stop()
  }
}
