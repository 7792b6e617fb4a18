package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The reference's cleaning-function library re-expressed as pure built-in
  * `Column` expressions over lazy plans
  * (`/root/reference/src/multi_source_ad_etl/data_clean_lib.py`). Cleaners
  * are `DataFrame => DataFrame` — the engine's extension point — and every
  * one of them stays inside whole-stage codegen (no UDFs).
  *
  * A cleaner that uses a derived string more than once stages it as a
  * helper column first and derives its outputs from that column.
  * Catalyst's `CollapseProject` does not re-inline a non-cheap expression
  * that is referenced more than once, so the derivation runs once per row
  * and is generated once. Inlined into every `when` branch instead, the
  * regex chains grow the stage's generated method past HotSpot's
  * 8,000-byte `DontCompileHugeMethods` limit, and the JIT then leaves the
  * whole stage interpreted (`CodegenSizeSpec` guards the limit).
  */
object Cleaners {

  /** X (Twitter) exports a literal `-` placeholder in `Average frequency`;
    * replace it with `"0"` only when the column was inferred as String
    * (schema-gated — a numeric file is a no-op). Ref `data_clean_lib.py:4-12`.
    * The replacement is `lit("0")` (string): Polars widens Int+String to
    * String here; Spark `when` branches must agree explicitly (SURVEY §1.4).
    */
  val cleanXAvgFrequency: DataFrame => DataFrame = { df =>
    val c = "Average frequency"
    // absent column raises (reference parity: df.schema["Average frequency"]
    // is a KeyError — a renamed export header must surface, not be skipped)
    require(df.schema.fieldNames.contains(c),
      s"""cleaner clean_x_avg_frequency: column "$c" not found """ +
        s"(columns: ${df.columns.mkString(", ")})")
    if (df.schema(c).dataType == StringType)
      df.withColumn(c, when(col(s"`$c`") === "-", lit("0")).otherwise(col(s"`$c`")))
    else df
  }

  /** Drop TikTok's leading "Total" summary row: remove rows whose SECOND
    * column starts with `"Total"`; rows where that column is null are KEPT
    * (Polars `remove` null semantics). Ref `data_clean_lib.py:15-18`.
    */
  val removeTiktokTotalRow: DataFrame => DataFrame = { df =>
    val totalCol = df.columns(1)
    MultiSourceAdEtl.removeRows(df, df(totalCol).cast(StringType).startsWith("Total"))
  }

  /** Strip a literal `.mp4` suffix from ad names (only when present).
    * Ref `data_clean_lib.py:21-23`. No strip-suffix builtin in Spark — an
    * anchored, escaped regex is the equivalent (SURVEY E2).
    */
  val stripTiktokMp4Suffix: DataFrame => DataFrame = { df =>
    df.withColumn("Ad name", regexp_replace(col("`Ad name`"), "\\.mp4$", ""))
  }

  private val AgeGenderCol = "연령 및 성별"
  // staged helper columns of cleanNaverGfaAgeGender; never in its output
  private val NormCol = "__gfa_age_gender_norm"
  private val AgeStrCol = "__gfa_age_str"

  /** Split Naver GFA's combined `연령 및 성별` ("age and gender") column into
    * normalized `연령` (`"25-34"`, `"45+"`, `"unknown"`) and `성`
    * (`male`/`female`/`unknown`), then drop the original.
    * Ref `data_clean_lib.py:26-85`. Uses null-on-no-match extraction
    * (`regexp_extract` yields `""` in Spark → wrapped in `nullif` to keep
    * the reference's `.is_not_null()` branch semantics, SURVEY §1.4).
    * The normalized string and the age string are staged as helper
    * columns (see the object doc); an input that already holds a helper's
    * name fails rather than being overwritten.
    */
  val cleanNaverGfaAgeGender: DataFrame => DataFrame = { df =>
    val clash = Seq(NormCol, AgeStrCol).filter(h => df.columns.exists(_.equalsIgnoreCase(h)))
    require(clash.isEmpty,
      s"cleaner clean_naver_gfa_age_gender: input already has helper column(s) " +
        s"${clash.mkString(", ")} (columns: ${df.columns.mkString(", ")})")
    val s = col(NormCol)
    val sAge = col(AgeStrCol)

    val ageRange = regexp_replace(
      nullIfEmpty(regexp_extract(sAge, "(\\d{1,2})\\s*-\\s*(\\d{1,2})", 0)),
      "\\s*-\\s*", "-")
    val agePlus = nullIfEmpty(regexp_extract(sAge, "(\\d{1,2})\\s*이상", 1))

    val age = when(s.rlike("연령모름"), lit("unknown"))
      .when(ageRange.isNotNull, ageRange)
      .when(agePlus.isNotNull, concat(agePlus, lit("+")))
      .otherwise(lit("unknown"))

    val gender = when(s.rlike("성별모름"), lit("unknown"))
      .when(s.rlike("남자|남성"), lit("male"))
      .when(s.rlike("여자|여성"), lit("female"))
      .otherwise(lit("unknown"))

    df.withColumn(NormCol,
        trim(regexp_replace(col(s"`$AgeGenderCol`").cast(StringType), "\\s+", " ")))
      .withColumn(AgeStrCol, regexp_replace(regexp_replace(s, "[~–—]", "-"), "\\s*세\\s*", ""))
      .withColumn("연령", age).withColumn("성", gender)
      .drop(NormCol, AgeStrCol, AgeGenderCol)
  }

  /** Normalize Naver GFA's dotted dates in place: `"2026.02.09."` →
    * `"2026-02-09"` (trim → strip ONE trailing dot → dots to dashes).
    * Column name unchanged; the standardize cast to DateType comes later.
    * Ref `data_clean_lib.py:88-105`.
    */
  val cleanNaverGfaDate: DataFrame => DataFrame = { df =>
    df.withColumn(
      "기간",
      regexp_replace(
        regexp_replace(trim(col("기간").cast(StringType)), "\\.$", ""),
        "\\.", "-"))
  }

  /** `""` → null: recovers Polars `str.extract` null-on-no-match from
    * Spark's empty-string-on-no-match `regexp_extract` (SURVEY E6/E7).
    */
  def nullIfEmpty(c: Column): Column = nullif(c, lit(""))
}
