package graft.etl

import java.nio.file.Paths

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.io.Sinks
import graft.util.A1

/** The reference's script lifecycle (`scripts/apsl_internal.py:138-192`) as
  * one reusable driver: run the conformance pipeline, derive the
  * date-range filename, export to a BOM CSV and to each configured sheet
  * (clear range → serial-dated upload). The pipeline is persisted and read
  * by three actions: one aggregate for the row count and the file name's
  * date range, the sorted CSV write, and one sheet collect when there are
  * sheet targets. `orderBy` keys make the exported row order deterministic
  * where the reference relied on eager concat order. The persisted frame
  * has the partitions `MultiSourceAdEtl.merge` gave it: a raw directory
  * of at most one `spark.sql.files.openCostInBytes` is one partition, so
  * each of the three actions runs one task and its sort or aggregate needs
  * no shuffle.
  */
object PipelineRunner {

  final case class SheetTarget(sheetKey: String, sheetName: String)

  final case class ExportResult(csvPath: String, rowCount: Long, uploaded: Seq[SheetTarget])

  def runAndExport(
      spark: SparkSession,
      config: EtlConfig,
      rawDir: String,
      capitalize: Boolean,
      processedDir: String,
      filenamePrefix: String,
      orderBy: Seq[Column],
      svc: Sinks.SheetService,
      sheets: Seq[SheetTarget]): ExportResult = {
    // persist before the first action: the row-count/date-range agg, CSV
    // write and sheet collect are separate actions — uncached they would
    // re-read and re-clean the raw dir per action, and a file landing
    // mid-run would make filename/CSV/sheet reflect different data
    val merged = new MultiSourceAdEtl(config).run(spark, rawDir, capitalize).persist()
    try {
      val dateCol = A1.dateColumn(merged.schema)
      val stats = merged.agg(count(lit(1)), A1.dateBounds(dateCol): _*).head()
      val rowCount = stats.getLong(0)
      if (rowCount == 0) throw new IllegalStateException(
        s"Pipeline produced 0 rows from $rawDir — refusing to export an empty artifact")
      val fileName = A1.dateFilename(filenamePrefix, dateCol, stats.getString(1), stats.getString(2))
      val csvPath = Paths.get(processedDir, fileName).toString
      Sinks.writeCsvWithBom(merged, csvPath, orderBy)
      if (sheets.nonEmpty) {
        // one sorted serial-dated collect, fanned out to every sheet target
        val (header, rows) = Sinks.collectSheetPayload(merged, orderBy)
        sheets.foreach(t => Sinks.uploadPayload(svc, header, rows, t.sheetKey, t.sheetName))
      }
      ExportResult(csvPath, rowCount, sheets)
    } finally merged.unpersist()
  }
}
