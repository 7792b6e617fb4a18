package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Golden tests per cleaner, on hand-built frames replicating each
  * platform's quirks (`data_clean_lib.py`, FIXTURES.md §3).
  */
class CleanersSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def strDf(col: String, values: Seq[String]) =
    spark.createDataFrame(
      values.map(v => Row(v)).asJava,
      StructType(Seq(StructField(col, StringType, nullable = true))))

  test("clean_x_avg_frequency replaces '-' with '0' when column is String") {
    val df = strDf("Average frequency", Seq("1.4", "-", null))
    val out = Cleaners.cleanXAvgFrequency(df).collect().map(_.getString(0)).toSeq
    assert(out == Seq("1.4", "0", null))
  }

  test("clean_x_avg_frequency raises when the column is absent (reference KeyError parity)") {
    import spark.implicits._
    val df = Seq(("x", 1)).toDF("Other", "N")
    val e = intercept[IllegalArgumentException] { Cleaners.cleanXAvgFrequency(df) }
    assert(e.getMessage.contains("Average frequency"))
  }

  test("clean_x_avg_frequency is a no-op on numeric column (schema gate)") {
    val df = spark.createDataFrame(
      Seq(Row(1.4), Row(2.0)).asJava,
      StructType(Seq(StructField("Average frequency", DoubleType, nullable = true))))
    val out = Cleaners.cleanXAvgFrequency(df)
    assert(out.schema("Average frequency").dataType == DoubleType)
    assert(out.collect().map(_.getDouble(0)).toSeq == Seq(1.4, 2.0))
  }

  test("remove_tiktok_total_row drops Total rows by 2nd column, KEEPS null rows") {
    val schema = StructType(Seq(
      StructField("By day", StringType, true), StructField("Account name", StringType, true)))
    val df = spark.createDataFrame(Seq(
      Row("2025-08-01", "Total of 2 campaigns"),
      Row("2025-08-01", "acct"),
      Row("2025-08-02", null)).asJava, schema)
    val out = Cleaners.removeTiktokTotalRow(df).collect().map(_.getString(1)).toSeq
    assert(out.sortBy(s => if (s == null) "" else s) == Seq(null, "acct").sortBy(s => if (s == null) "" else s))
    assert(out.size == 2)
  }

  test("strip_tiktok_mp4_suffix strips only a literal trailing .mp4") {
    val df = strDf("Ad name", Seq("summer_promo.mp4", "fall_teaser", "amp4x", "a.mp4b", null))
    val out = Cleaners.stripTiktokMp4Suffix(df).collect().map(_.getString(0)).toSeq
    assert(out == Seq("summer_promo", "fall_teaser", "amp4x", "a.mp4b", null))
  }

  test("clean_naver_gfa_age_gender handles every quirk variant") {
    val df = strDf("연령 및 성별", Seq(
      "25세~34세 남성",      // plain range + male
      "45세 이상 여자",      // open-ended + female
      "연령모름 성별모름",    // both unknown
      "18세–24세 여성",      // en-dash range + female
      "35 세 ~ 44 세 남자",  // spaced variant
      null))
    val out = Cleaners.cleanNaverGfaAgeGender(df)
    assert(out.columns.toSeq == Seq("연령", "성")) // original dropped
    val rows = out.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(
      ("25-34", "male"),
      ("45+", "female"),
      ("unknown", "unknown"),
      ("18-24", "female"),
      ("35-44", "male"),
      ("unknown", "unknown")))
  }

  test("clean_naver_gfa_date normalizes dotted dates in place") {
    val df = strDf("기간", Seq("2026.02.09.", " 2026.02.10. ", "2026-02-11", null))
    val out = Cleaners.cleanNaverGfaDate(df).collect().map(_.getString(0)).toSeq
    assert(out == Seq("2026-02-09", "2026-02-10", "2026-02-11", null))
  }

  /** The age/gender cleaner as it was before staging: both derived strings
    * inlined into every branch. Kept as the reference the staged cleaner
    * must match row for row.
    */
  private def inlineAgeGender(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val s = trim(regexp_replace(col("`연령 및 성별`").cast(StringType), "\\s+", " "))
    val sAge = regexp_replace(regexp_replace(s, "[~–—]", "-"), "\\s*세\\s*", "")
    val ageRange = regexp_replace(
      Cleaners.nullIfEmpty(regexp_extract(sAge, "(\\d{1,2})\\s*-\\s*(\\d{1,2})", 0)),
      "\\s*-\\s*", "-")
    val agePlus = Cleaners.nullIfEmpty(regexp_extract(sAge, "(\\d{1,2})\\s*이상", 1))
    val age = when(s.rlike("연령모름"), lit("unknown"))
      .when(ageRange.isNotNull, ageRange)
      .when(agePlus.isNotNull, concat(agePlus, lit("+")))
      .otherwise(lit("unknown"))
    val gender = when(s.rlike("성별모름"), lit("unknown"))
      .when(s.rlike("남자|남성"), lit("male"))
      .when(s.rlike("여자|여성"), lit("female"))
      .otherwise(lit("unknown"))
    df.withColumn("연령", age).withColumn("성", gender).drop("연령 및 성별")
  }

  test("staged clean_naver_gfa_age_gender is row-identical to the inline formula") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // the five GFA spellings, their pieces, and the noise around them
    val token = Gen.oneOf(
      "25세~34세 남성", "45세 이상 여자", "연령모름 성별모름", "18세–24세 여성",
      "35 세 ~ 44 세 남자", "세", "~", "–", "—", "-", " ", "   ", "\t", "\n",
      "이상", "7", "18", "25", "45", "100", "남자", "여성", "연령모름", "성별모름", "x")
    val value = Gen.frequency(
      1 -> Gen.const(null: String),
      9 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, token).map(_.mkString)))
    val rows = Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, value))
    val prop = Prop.forAll(rows) { values =>
      val df = strDf("연령 및 성별", values)
        .withColumn("n", org.apache.spark.sql.functions.monotonically_increasing_id())
      val staged = Cleaners.cleanNaverGfaAgeGender(df)
      val inline = inlineAgeGender(df)
      staged.schema == inline.schema &&
        staged.orderBy("n").collect().toSeq == inline.orderBy("n").collect().toSeq
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("clean_naver_gfa_age_gender's helper columns never reach the output") {
    val df = strDf("연령 및 성별", Seq("25세~34세 남성", null))
      .withColumn("캠페인", org.apache.spark.sql.functions.lit("c"))
    val out = Cleaners.cleanNaverGfaAgeGender(df)
    assert(out.columns.toSeq == Seq("캠페인", "연령", "성"))
    assert(out.collect().map(_.toSeq).toSeq ==
      Seq(Seq("c", "25-34", "male"), Seq("c", "unknown", "unknown")))
  }

  test("clean_naver_gfa_age_gender refuses an input that holds a helper's name") {
    for (helper <- Seq("__gfa_age_gender_norm", "__GFA_AGE_STR")) {
      val df = strDf("연령 및 성별", Seq("25세~34세 남성"))
        .withColumn(helper, org.apache.spark.sql.functions.lit("kept"))
      val e = intercept[IllegalArgumentException] { Cleaners.cleanNaverGfaAgeGender(df) }
      assert(e.getMessage.contains(helper), e.getMessage)
    }
  }
}
