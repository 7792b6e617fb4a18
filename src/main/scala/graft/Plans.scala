package graft

/** Plan-capture tool for the optimization rounds: writes
  * `explain("formatted")` of each named SparkEntry query (built against
  * SPARK_GRAFT_SF_DIR) to `<outDir>/<query>_<tag>.txt` — the before/after
  * evidence files under plans/rNN/ that let the judge check plan claims
  * without running Spark. Same session (GraftSession) as Bench so the
  * captured plans are the benched plans. The dumps are stable run to
  * run: the process's scratch root prints as `<scratch>`, the
  * session-wide `plan_id=N` counter as `plan_id=*`, and `#N` expression
  * ids are renumbered by first appearance in each dump (the session-wide
  * id counter moves with how many ids earlier entries and AQE re-plans
  * drew, which varies run to run). Usage:
  *   sbt "runMain graft.Plans plans/r20 before q_topk,s_index_recall_curve"
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val Array(outDir, tag, names) = args
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    for (n <- names.split(",").map(_.trim).filter(_.nonEmpty)) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .replace(graft.util.Dirs.root.getAbsolutePath, "<scratch>")
        .replaceAll("plan_id=\\d+", "plan_id=*")
      val ids = scala.collection.mutable.HashMap.empty[String, Int]
      val stable = "#(\\d+)".r.replaceAllIn(plan,
        m => "#" + ids.getOrElseUpdate(m.group(1), ids.size + 1))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"), stable)
      spark.catalog.clearCache()
    }
    SparkEntry.cleanup(spark, sfDir)
    spark.stop()
  }
}
