package graft.etl

import java.nio.file.Files
import java.sql.Date

import graft.SparkSpec
import org.apache.spark.sql.types._

/** End-to-end pipeline goldens over the synthetic fixture CSVs
  * (FIXTURES.md): read → capitalize → detect → clean → standardize → merge.
  */
class MultiSourceAdEtlSpec extends SparkSpec {

  /** Names+types must match the declared schema exactly; nullability is an
    * optimizer hint in Spark and the engine may legitimately be tighter
    * (e.g. the stamped `Source` = lit(src) is non-nullable).
    */
  private def assertConforms(schema: StructType, declared: StructType): Unit =
    assert(schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      declared.fields.map(f => (f.name, f.dataType)).toSeq)

  test("apsl e2e: 5 sources detected, cleaned, conformed, merged") {
    val dir = Fixtures.materialize("apsl")
    val engine = new MultiSourceAdEtl(Configs.apsl)
    val out = engine.run(spark, dir, capitalize = true).cache()

    assertConforms(out.schema, Configs.apsl.standardSchema)
    // 2 meta + 1 olive + 1 lead + 2 x + 2 tiktok (Total row removed,
    // null-"By day" row KEPT per Polars remove semantics)
    assert(out.count() == 8)
    val bySource = out.groupBy("Source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource == Map(
      "Meta" -> 2L, "Meta_OLIVE" -> 1L, "Meta_Lead" -> 1L, "X (Twitter)" -> 2L, "TikTok" -> 2L))

    // strict cast produced real dates; the kept null-By-Day TikTok row has a null Day
    val days = out.select("Day").distinct().collect().map(_.getDate(0)).toSet
    assert(days == Set(Date.valueOf("2025-08-01"), Date.valueOf("2025-08-02"), null))

    // apsl does NOT map X's "Average frequency" (apsl_internal.py:69-82) —
    // the cleaner normalizes it but standardize drops it; the standard
    // "Frequency" column is therefore null for every X row.
    assert(out.filter(out("Source") === "X (Twitter)" && out("Frequency").isNotNull).count() == 0)

    // Meta_Lead: "Leads" mapped; unmapped "Leads conversion value" dropped;
    // columns absent from the source are typed nulls
    val lead = out.filter(out("Source") === "Meta_Lead").head()
    assert(lead.getAs[Long]("Leads") == 22L)
    assert(lead.isNullAt(out.columns.indexOf("Purchases")))
    // Meta rows never have Leads
    assert(out.filter(out("Source") === "Meta" && out("Leads").isNotNull).count() == 0)
  }

  test("like_eat e2e: Korean pipeline with chained Naver cleaners") {
    val dir = Fixtures.materialize("like_eat")
    val engine = new MultiSourceAdEtl(Configs.likeEat)
    val out = engine.run(spark, dir, capitalize = true).cache()

    assertConforms(out.schema, Configs.likeEat.standardSchema)
    assert(out.count() == 7) // 2 meta + 5 gfa

    val gfa = out.filter(out("Source") === "Naver_GFA")
      .select("일", "연령", "성").collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getString(2))).toSet
    assert(gfa == Set(
      ("2026-02-09", "25-34", "male"),
      ("2026-02-09", "45+", "female"),
      ("2026-02-10", "unknown", "unknown"),
      ("2026-02-10", "18-24", "female"),
      ("2026-02-10", "35-44", "male")))

    // Meta_naver rows: 성/연령 not provided → typed nulls
    assert(out.filter(out("Source") === "Meta_naver" && out("성").isNotNull).count() == 0)
    // 웹사이트 URL mapped for Meta_naver, null for GFA
    assert(out.filter(out("Source") === "Naver_GFA" && out("웹사이트 URL").isNotNull).count() == 0)
    assert(out.filter(out("Source") === "Meta_naver").select("웹사이트 URL")
      .collect().map(_.getString(0)).toSet == Set("https://ex.kr/a", "https://ex.kr/b"))
  }

  test("detection is first-match-wins in declaration order") {
    val engine = new MultiSourceAdEtl(Configs.kcon)
    // kcon Meta criteria {Campaign name, Day} would also match a TikTok-ish
    // frame that carries those names — declaration order decides.
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row("x", "y", "z", "w")).asJava,
      StructType(Seq("Campaign name", "Day", "By Day", "Cost")
        .map(StructField(_, StringType, nullable = true))))
    assert(engine.detectSource(df) == "Meta")
  }

  test("unknown source raises with column listing") {
    val engine = new MultiSourceAdEtl(Configs.podl)
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row("a")).asJava,
      StructType(Seq(StructField("Mystery", StringType, true))))
    val e = intercept[IllegalArgumentException] { engine.detectSource(df) }
    assert(e.getMessage.contains("Unknown"))
    assert(e.getMessage.contains("Mystery"))

    // read from a directory, the error also names the file(s) behind the frame
    val dir = Files.createTempDirectory("graft-unknown")
    Files.write(dir.resolve("mystery_export.csv"), "Mystery\na".getBytes)
    val e2 = intercept[IllegalArgumentException] { engine.run(spark, dir.toString) }
    assert(e2.getMessage.contains("Unknown"))
    assert(e2.getMessage.contains("Mystery"))
    assert(e2.getMessage.contains("mystery_export.csv"))
  }

  test("podl e2e: no-capitalize pipeline, Total row removed, never-mapped column is null") {
    val out = new MultiSourceAdEtl(Configs.podl)
      .run(spark, Fixtures.materialize("podl"), capitalize = false).cache()
    assertConforms(out.schema, Configs.podl.standardSchema)
    val bySource = out.groupBy("Source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource == Map("Meta" -> 2L, "TikTok" -> 1L))
    // "Website URL" exists in the schema but no source maps it → always null
    assert(out.filter(out("Website URL").isNotNull).count() == 0)
  }

  test("mnb e2e: wired X cleaner turns '-' Average frequency into Frequency 0.0") {
    val out = new MultiSourceAdEtl(Configs.mnb)
      .run(spark, Fixtures.materialize("mnb"), capitalize = false).cache()
    assertConforms(out.schema, Configs.mnb.standardSchema)
    assert(out.count() == 3)
    // the placeholder row: cleaner "-"→"0", standardize casts to 0.0
    val f = out.filter(out("Source") === "X (Twitter)" && out("Day") === "2025-08-02")
      .select("Frequency").head().getDouble(0)
    assert(f == 0.0)
    // the numeric row survives untouched
    val f1 = out.filter(out("Source") === "X (Twitter)" && out("Day") === "2025-08-01")
      .select("Frequency").head().getDouble(0)
    assert(f1 == 1.5)
    // "Objective" was detection-only: not in the standard schema
    assert(!out.columns.contains("Objective"))
  }

  test("kcon e2e: currency-agnostic config keeps Amount spent (Raw) as String") {
    val out = new MultiSourceAdEtl(Configs.kcon)
      .run(spark, Fixtures.materialize("kcon"), capitalize = false).cache()
    assertConforms(out.schema, Configs.kcon.standardSchema)
    assert(out.count() == 3)
    val amounts = out.select("Source", "Amount spent (Raw)", "Currency").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(amounts == Set(
      ("Meta", "120000", "KRW"), ("TikTok", "98000", "KRW"), ("X (Twitter)", "75.5", "USD")))
  }

  test("strict rename: mapped raw columns missing from the frame raise (Polars rename parity)") {
    val engine = new MultiSourceAdEtl(Configs.apsl)
    import scala.jdk.CollectionConverters._
    // satisfies Meta's criteria {Day, Purchases conversion value} but lacks
    // the other mapped raw columns — the reference's strict df.rename raises
    val df = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row("2025-08-01", "1.0")).asJava,
      StructType(Seq("Day", "Purchases conversion value")
        .map(StructField(_, StringType, nullable = true))))
    val e = intercept[IllegalArgumentException] {
      engine.standardizeDataFrames(engine.assignSource(Seq(df)))
    }
    assert(e.getMessage.contains("not found") && e.getMessage.contains("Impressions"))
  }

  test("V5: empty raw dir raises and lists files") {
    val empty = Files.createTempDirectory("graft-empty")
    Files.write(empty.resolve("notes.txt"), "x".getBytes)
    val engine = new MultiSourceAdEtl(Configs.podl)
    val e = intercept[IllegalArgumentException] { engine.readTabularFiles(spark, empty.toString) }
    assert(e.getMessage.contains("No CSV or XLSX"))
    assert(e.getMessage.contains("notes.txt"))
  }
}
