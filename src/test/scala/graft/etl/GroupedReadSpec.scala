package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.io.Sources
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StringType

/** The grouped raw read (one schema-inference job for every CSV, one scan
  * per group of same-header, same-schema files) against the per-file read
  * it replaced: every CSV its own `inferSchema` scan, each through the same
  * detect → clean → standardize steps, merged by a left-deep `unionByName`.
  * Both must give the same schema and the same rows, including where files
  * with the same header infer different types.
  */
class GroupedReadSpec extends SparkSpec {

  /** The per-file reference read: one CSV, header row, full-file inference. */
  private def readCsvPerFile(file: Path): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .csv(file.toString)

  private def csvFiles(dir: String): Seq[Path] =
    scala.util.Using.resource(Files.list(Paths.get(dir)))(_.iterator().asScala.toSeq)
      .filter(_.getFileName.toString.toLowerCase.endsWith(".csv"))
      .sortBy(_.getFileName.toString)

  private def perFilePipeline(engine: MultiSourceAdEtl, dir: String, capitalize: Boolean): DataFrame = {
    val raw = csvFiles(dir).map(readCsvPerFile)
    val named = if (capitalize) engine.capitalizeColNames(raw) else raw
    engine.standardizeDataFrames(engine.cleanDataFrames(engine.assignSource(named)))
      .reduce(_.unionByName(_))
  }

  private def sortedRows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** Each file's schema in the grouped read is the one its own per-file
    * read infers, and every file is in exactly one group.
    */
  private def assertPerFileSchemas(dir: String): Seq[DataFrame] = {
    val groups = Sources.readTabularFiles(spark, dir)
    val grouped = groups.flatMap(g => g.inputFiles.toSeq.map(_ -> g.schema))
    val perFile = csvFiles(dir).map(readCsvPerFile).map(df => df.inputFiles.head -> df.schema)
    assert(grouped.map(_._1).distinct.size == grouped.size, "a file is in two groups")
    assert(grouped.toMap == perFile.toMap)
    groups
  }

  private def assertSamePipeline(config: EtlConfig, dir: String, capitalize: Boolean): DataFrame = {
    val engine = new MultiSourceAdEtl(config)
    val out = engine.run(spark, dir, capitalize)
    val ref = perFilePipeline(engine, dir, capitalize)
    assert(out.schema == ref.schema)
    assert(sortedRows(out) == sortedRows(ref))
    out
  }

  private def rawDir(base: String, extra: (String, Seq[String])*): String = {
    val dir = Files.createTempDirectory("graft-grouped-read")
    if (base.nonEmpty)
      csvFiles(Fixtures.materialize(base)).foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
    extra.foreach { case (name, lines) =>
      Files.write(dir.resolve(name), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    dir.toString
  }

  private def fixtureLines(set: String, file: String): Seq[String] =
    Files.readAllLines(Paths.get(Fixtures.materialize(set), file), StandardCharsets.UTF_8).asScala.toSeq

  test("every fixture CSV keeps its per-file schema; every shipped pipeline is unchanged") {
    Configs.all.toSeq.sortBy(_._1).foreach { case (name, (config, capitalize)) =>
      val dir = Fixtures.materialize(name)
      assertPerFileSchemas(dir)
      assertSamePipeline(config, dir, capitalize)
    }
  }

  test("mnb X files with and without '-' in Average frequency infer apart; Frequency is unchanged") {
    val x = fixtureLines("mnb", "x.csv")
    val numeric = x.head +: x.tail.map(_.replace(",-,", ",2.25,"))
    val dir = rawDir("mnb", "x_numeric.csv" -> numeric)
    val groups = assertPerFileSchemas(dir)
    val xSchemas = groups.filter(_.columns.contains("Average frequency"))
      .map(_.schema("Average frequency").dataType).toSet
    assert(xSchemas.size == 2, s"X files should stay in two groups: $xSchemas")
    val out = assertSamePipeline(Configs.mnb, dir, capitalize = false)
    val freq = out.filter(out("Source") === "X (Twitter)").select("Frequency")
      .collect().map(_.getDouble(0)).sorted.toSeq
    assert(freq == Seq(0.0, 1.5, 1.5, 2.25))
  }

  test("kcon String target: 75.50 in one file reads as 75.5, N/A in another stays N/A") {
    val x = fixtureLines("kcon", "x.csv")
    val dir = rawDir("kcon",
      "x.csv" -> Seq(x.head, x(1).replace(",75.5,", ",75.50,")),
      "x_na.csv" -> Seq(x.head, x(1).replace(",75.5,", ",N/A,").replace("camp_kx1", "camp_kx2")))
    assertPerFileSchemas(dir)
    val out = assertSamePipeline(Configs.kcon, dir, capitalize = false)
    val amounts = out.filter(out("Source") === "X (Twitter)").select("Amount spent (Raw)")
      .collect().map(_.getString(0)).toSet
    assert(amounts == Set("75.5", "N/A"))
  }

  test("Impressions fitting an Int in one file and past Int.MaxValue in another") {
    val meta = fixtureLines("apsl", "meta.csv")
    val big = meta.head +: meta.tail.map(_.replace(",12000,", ",3000000000,").replace(",9800,", ",2147483648,"))
    val dir = rawDir("apsl", "meta_big.csv" -> big)
    assertPerFileSchemas(dir)
    val out = assertSamePipeline(Configs.apsl, dir, capitalize = true)
    assert(out.filter(out("Impressions") === 3000000000L).count() == 1)
  }

  test("TikTok with a Total row (By Day a string) next to one without (By Day a date)") {
    val tiktok = fixtureLines("apsl", "tiktok.csv")
    val dir = rawDir("apsl", "tiktok_days.csv" -> Seq(tiktok.head, tiktok(2),
      tiktok(2).replace("2025-08-01", "2025-08-02").replace("camp_t1", "camp_t3")))
    val groups = assertPerFileSchemas(dir)
    assert(groups.count(_.columns.contains("By Day")) == 2)
    val out = assertSamePipeline(Configs.apsl, dir, capitalize = true)
    assert(out.filter(out("Source") === "TikTok").count() == 4)
  }

  test("an invalid date in one file still fails under ANSI, as the per-file read does") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val meta = fixtureLines("apsl", "meta.csv")
    val dir = rawDir("apsl", "meta_bad.csv" -> Seq(meta.head, meta(1).replace("2025-08-01", "2025-08-03"),
      meta(2).replace("2025-08-02", "2025-13-45")))
    val engine = new MultiSourceAdEtl(Configs.apsl)
    val grouped = intercept[Exception](engine.run(spark, dir, capitalize = true).collect())
    val perFile = intercept[Exception](perFilePipeline(engine, dir, capitalize = true).collect())
    assert(grouped.getClass == perFile.getClass)
    assert(grouped.getMessage.contains("2025-13-45"))
  }

  test("degenerate: a 0-byte CSV raises the same Unknown source error") {
    val dir = rawDir("apsl", "empty.csv" -> Nil)
    assert(Files.size(Paths.get(dir, "empty.csv")) == 0)
    val engine = new MultiSourceAdEtl(Configs.apsl)
    val grouped = intercept[IllegalArgumentException](engine.run(spark, dir, capitalize = true))
    val perFile = intercept[IllegalArgumentException](perFilePipeline(engine, dir, capitalize = true))
    assert(grouped.getMessage.startsWith("Source: 'Unknown' assigned (columns: ;"))
    assert(perFile.getMessage.startsWith("Source: 'Unknown' assigned (columns: ;"))
    assert(grouped.getMessage.contains("empty.csv"))
  }

  test("degenerate: a header-only CSV adds 0 rows under an all-String schema") {
    val meta = fixtureLines("apsl", "meta.csv")
    val dir = rawDir("apsl", "meta_header_only.csv" -> Seq(meta.head))
    val groups = assertPerFileSchemas(dir)
    val headerOnly = groups.filter(_.inputFiles.exists(_.endsWith("meta_header_only.csv")))
    assert(headerOnly.size == 1)
    assert(headerOnly.head.schema.fields.forall(_.dataType == StringType))
    assert(headerOnly.head.count() == 0)
    val out = assertSamePipeline(Configs.apsl, dir, capitalize = true)
    assert(out.count() == 8)
  }

  test("degenerate: blank and duplicate header cells get Spark's per-file names") {
    val meta = fixtureLines("apsl", "meta.csv")
    val n = meta.head.split(",").length
    val dir = rawDir("", "meta.csv" -> (s"${meta.head},,Notes,notes" +: meta.tail.map(_ + ",x,y,z")))
    val groups = assertPerFileSchemas(dir)
    assert(groups.head.columns.takeRight(3).toSeq == Seq(s"_c$n", s"Notes${n + 1}", s"notes${n + 2}"))
    assertSamePipeline(Configs.apsl, dir, capitalize = true)
  }
}
