package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.io.Sinks

/** The full reference script lifecycle end-to-end: pipeline → date-range
  * filename → BOM CSV → sheet clear+upload with serial dates.
  */
class PipelineRunnerSpec extends SparkSpec {

  test("runAndExport: apsl pipeline to CSV + sheet (full script shape)") {
    val processed = Files.createTempDirectory("processed").toString
    val svc = new Sinks.InMemorySheetService
    val result = PipelineRunner.runAndExport(
      spark,
      Configs.apsl,
      Fixtures.dir("apsl"),
      capitalize = true,
      processedDir = processed,
      filenamePrefix = "apsl_daily",
      orderBy = Seq(col("Source"), col("Day"), col("Campaign name")),
      svc = svc,
      sheets = Seq(PipelineRunner.SheetTarget("key1", "raw_data")))

    assert(result.rowCount == 8)
    // date-range filename from the Day column, en-dash separator
    assert(Paths.get(result.csvPath).getFileName.toString ==
      "apsl_daily_2025-08-01–2025-08-02.csv")
    val bytes = Files.readAllBytes(Paths.get(result.csvPath))
    assert(bytes.take(3).toSeq == Seq(0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
    val lines = new String(bytes, "UTF-8").linesIterator.toSeq
    assert(lines.length == 9) // header + 8 rows

    // sheet got cleared then uploaded with header + serial-dated rows
    assert(svc.cleared.nonEmpty && svc.cleared.head._3 == "A:Q")
    val uploaded = svc.get("key1", "raw_data", "A1:Q9")
    assert(uploaded.length == 9)
    assert(uploaded.head.take(2) == Seq("Day", "Source"))
    // 2025-08-01 → Excel serial 45870
    assert(uploaded.tail.exists(_.head == "45870"))
  }

  /** A raw dir holding one apsl TikTok export with these data rows. */
  private def tiktokRaw(rows: String*): String = {
    val header = Files.readAllLines(Paths.get(Fixtures.dir("apsl"), "tiktok.csv"), UTF_8).get(0)
    val dir = Files.createTempDirectory("graft-runner-raw")
    Files.write(dir.resolve("tiktok.csv"), (header +: rows).mkString("\n").getBytes(UTF_8))
    dir.toString
  }

  private def exportTo(raw: String, processed: Path): PipelineRunner.ExportResult =
    PipelineRunner.runAndExport(spark, Configs.apsl, raw, capitalize = true,
      processed.toString, "apsl_daily", Seq(col("Source"), col("Day")),
      new Sinks.InMemorySheetService, Seq(PipelineRunner.SheetTarget("key1", "raw_data")))

  private def isEmptyDir(dir: Path): Boolean =
    scala.util.Using.resource(Files.list(dir))(!_.iterator().hasNext)

  test("runAndExport: cleaners that remove every row raise the 0-row error and write no CSV") {
    val raw = tiktokRaw("Total of 1 campaign,,,,,60.0,6000,1.4,4300,150,15,9,4,327.0")
    val processed = Files.createTempDirectory("processed")
    val e = intercept[IllegalStateException](exportTo(raw, processed))
    assert(e.getMessage.startsWith("Pipeline produced 0 rows"), e.getMessage)
    assert(isEmptyDir(processed))
  }

  test("runAndExport: rows whose Date column is all null raise the error naming the column") {
    val raw = tiktokRaw(",acct_t,camp_t2,grp_t2,fall_teaser,60.0,6000,1.4,4300,150,15,9,4,327.0")
    val processed = Files.createTempDirectory("processed")
    val e = intercept[IllegalArgumentException](exportTo(raw, processed))
    assert(e.getMessage.contains("\"Day\""), e.getMessage)
    assert(isEmptyDir(processed))
  }
}
