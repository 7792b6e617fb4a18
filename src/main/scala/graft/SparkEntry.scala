package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates the operator corpus: reference ETL surface (EtlSurface),
  * relational extensions (Relational), text analysis (Text), dedup (Dedup),
  * similarity search (Similarity), event/stream ops (Events).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H-Q1-shaped pricing summary: scan → filter → agg → sort.
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    EtlSurface.queries ++ Relational.queries ++ Text.queries ++
      Dedup.queries ++ Similarity.queries ++ Events.queries ++
      Curation.queries ++ graft.multimodal.Multimodal.queries ++
      graft.streaming.EventStreams.queries ++ PretrainBuild.queries

  /** DuckDB-equivalent SQL per query; keys absent here get a weaker
    * rows-only check (approximate / hash-function-specific operators).
    */
  def oracleSql: Map[String, String] =
    EtlSurface.oracles ++ Relational.oracles ++ Text.oracles ++
      Dedup.oracles ++ Similarity.oracles ++ Events.oracles ++
      Curation.oracles ++ graft.multimodal.Multimodal.oracles ++
      graft.streaming.EventStreams.oracles ++ PretrainBuild.oracles

  /** Drop every artifact the entries leave behind for data dir `d`: the
    * catalog tables of `q_bucketed_join`, then the corpus dir
    * (`graft.util.Dirs.cleanup`: ANN index, staged stream inputs, layout
    * parquet). Idempotent; call once every result is materialized (the
    * returned DataFrames read through the artifacts).
    */
  def cleanup(spark: SparkSession, d: String): Unit = {
    Relational.dropLayoutTables(spark, d)
    graft.util.Dirs.cleanup(d)
  }
}
