package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** Declarative multi-source ETL pipeline configuration — config-as-data.
  *
  * Mirrors the reference engine's constructor contract
  * (`/root/reference/src/multi_source_ad_etl/multi_source_ad_etl.py:10-17`):
  * a pipeline is fully described by four values. `sourceCriteria` is an
  * ordered `Seq` (not a `Map`) because detection is first-match-wins in
  * insertion order (`multi_source_ad_etl.py:132`).
  *
  * @param sourceCriteria  source name -> set of column names whose joint
  *                        presence identifies that source
  * @param renameMappings  source name -> raw-column -> standard-column map
  * @param standardSchema  ordered target schema every file is conformed to
  * @param cleaners        source name -> per-source cleaning functions,
  *                        applied in declaration order before standardize
  */
final case class EtlConfig(
    sourceCriteria: Seq[(String, Set[String])],
    renameMappings: Map[String, Map[String, String]],
    standardSchema: StructType,
    cleaners: Map[String, Seq[DataFrame => DataFrame]] = Map.empty
) {

  /** Fail-fast configuration validation (reference V1–V4,
    * `multi_source_ad_etl.py:35-94`). Runs before any data is read.
    */
  def validate(): EtlConfig = {
    validateSourceCriteria()
    validateAlignment()
    validateSchemaCoverage()
    validateCleaners()
    this
  }

  /** V2: no criteria column may be claimed by two sources — detection must
    * be unambiguous (`multi_source_ad_etl.py:54-68`).
    */
  private def validateSourceCriteria(): Unit = {
    val colToSources = sourceCriteria
      .flatMap { case (src, cols) => cols.map(_ -> src) }
      .groupBy(_._1)
      .map { case (col, pairs) => col -> pairs.map(_._2) }
    colToSources.toSeq.sortBy(_._1).foreach { case (col, srcs) =>
      require(
        srcs.size <= 1,
        s"Column '$col' is used in multiple sources: ${srcs.mkString(", ")}"
      )
    }
  }

  /** V1: criteria and rename-mapping keys must align exactly
    * (`multi_source_ad_etl.py:40-52`).
    */
  private def validateAlignment(): Unit = {
    val critKeys = sourceCriteria.map(_._1).toSet
    val mapKeys = renameMappings.keySet
    val missing = (critKeys -- mapKeys).toSeq.sorted
    val extra = (mapKeys -- critKeys).toSeq.sorted
    val msgs = Seq(
      if (missing.nonEmpty) Some(s"Missing rename mappings for sources: ${missing.mkString(", ")}") else None,
      if (extra.nonEmpty) Some(s"Mappings provided for non-detectable sources: ${extra.mkString(", ")}") else None
    ).flatten
    require(msgs.isEmpty, msgs.mkString(" | "))
  }

  /** V3: every rename target must exist in the standard schema
    * (`multi_source_ad_etl.py:70-82`).
    */
  private def validateSchemaCoverage(): Unit = {
    val schemaCols = standardSchema.fieldNames.toSet
    val bad = renameMappings.toSeq.sortBy(_._1).flatMap { case (src, mp) =>
      val missing = (mp.values.toSet -- schemaCols).toSeq.sorted
      if (missing.nonEmpty) Some(s"$src: ${missing.mkString(", ")}") else None
    }
    require(
      bad.isEmpty,
      s"Mapping targets not present in standardSchema -> ${bad.mkString(" | ")}"
    )
  }

  /** V4: cleaner keys must be known (detectable) sources
    * (`multi_source_ad_etl.py:84-94`).
    */
  private def validateCleaners(): Unit = {
    val known = sourceCriteria.map(_._1).toSet
    val extra = (cleaners.keySet -- known).toSeq.sorted
    require(
      extra.isEmpty,
      s"Unknown source(s) in cleaners: ${extra.mkString(", ")}. Allowed sources: ${known.toSeq.sorted.mkString(", ")}"
    )
  }
}
