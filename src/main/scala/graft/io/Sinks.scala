package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

import graft.util.A1

/** Output connectors (reference S5/S6 + E13 — SURVEY §2.1). */
object Sinks {

  private val Utf8Bom: Array[Byte] = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)

  /** Write a DataFrame as ONE headered CSV file at `outFile`, prepending a
    * UTF-8 BOM so Excel renders Korean text correctly — the reference's
    * `write_csv(include_bom=True)` (S5, `apsl_internal.py:191`). Spark's CSV
    * sink has no BOM option, so: single-partition write to a temp dir, then
    * a driver-side move that prepends the 3 BOM bytes.
    *
    * Scale note: a single CSV for a spreadsheet upload is inherently a
    * 1-partition sink; for big outputs use the parquet writer instead — this
    * sink exists for the reference's small daily exports.
    */
  def writeCsvWithBom(df: DataFrame, outFile: String, orderBy: Seq[Column] = Nil): Unit = {
    val out = Paths.get(outFile).toAbsolutePath
    Option(out.getParent).foreach(Files.createDirectories(_))
    val tmp = Files.createTempDirectory(out.getParent, ".csv-stage-")
    try {
      val ordered = if (orderBy.nonEmpty) df.orderBy(orderBy: _*) else df
      ordered.coalesce(1).write.mode("overwrite").option("header", "true")
        // RFC-4180 quote doubling ("" not \") — Excel, the BOM's whole
        // purpose, mis-parses backslash escapes
        .option("escape", "\"")
        .csv(tmp.resolve("out").toString)
      val part = scala.util.Using.resource(Files.list(tmp.resolve("out")))(
        _.iterator().asScala.find(_.getFileName.toString.startsWith("part-")))
        .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
      Files.deleteIfExists(out)
      // stream the part file after the BOM — readAllBytes would hold the
      // whole CSV on the driver heap
      scala.util.Using.resource(Files.newOutputStream(out,
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)) { os =>
        os.write(Utf8Bom)
        Files.copy(part, os)
      }
    } finally {
      scala.util.Using.resource(Files.walk(tmp))(
        _.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)))
    }
  }

  /** Convert every DateType column to its Excel serial number — days since
    * 1899-12-30 (epoch days + 25569; reference E13,
    * `google_cloud_client.py:168-178`). Built-in `datediff`, codegen'd.
    */
  def withExcelSerialDates(df: DataFrame): DataFrame = {
    val dateCols = df.schema.fields.filter(_.dataType == DateType).map(_.name).toSet
    if (dateCols.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map { c =>
      if (dateCols.contains(c)) datediff(df(c), to_date(lit("1899-12-30"))).cast("long").as(c)
      else df(c)
    }: _*)
  }

  /** Spreadsheet transport abstraction. The reference talks to Google Sheets
    * over HTTP (`google_cloud_client.py`); that network client is out of
    * scope offline (SURVEY §7.5), so the engine depends on this trait and
    * ships an in-memory fake with identical range semantics.
    */
  trait SheetService {
    def clearRange(sheetKey: String, sheetName: String, a1Range: String): Unit
    def update(sheetKey: String, sheetName: String, a1Range: String, rows: Seq[Seq[Any]]): Unit
    def get(sheetKey: String, sheetName: String, a1Range: String): Seq[Seq[String]]
  }

  /** Test double for [[SheetService]]: stores the last uploaded payload per
    * (key, sheet); `get` crops the stored payload to the requested A1
    * rectangle (the payload is anchored at A1), matching the real Sheets
    * API's range semantics.
    */
  final class InMemorySheetService extends SheetService {
    val cleared = mutable.ArrayBuffer.empty[(String, String, String)]
    private val store = mutable.Map.empty[(String, String), Seq[Seq[Any]]]

    override def clearRange(sheetKey: String, sheetName: String, a1Range: String): Unit =
      cleared += ((sheetKey, sheetName, a1Range))

    override def update(sheetKey: String, sheetName: String, a1Range: String, rows: Seq[Seq[Any]]): Unit =
      store((sheetKey, sheetName)) = rows

    override def get(sheetKey: String, sheetName: String, a1Range: String): Seq[Seq[String]] = {
      val (colStart, rowStart, colEnd, rowEnd) = A1.parseRange(a1Range)
      val full = store.getOrElse((sheetKey, sheetName), Seq.empty)
      val rows = (rowStart, rowEnd) match {
        case (Some(s), Some(e)) => full.slice((s - 1).toInt, e.toInt)
        case (Some(s), None)    => full.drop((s - 1).toInt)
        case (None, Some(e))    => full.take(e.toInt) // "A:Q5"
        case (None, None)       => full
      }
      rows.map(_.slice(colStart - 1, colEnd).map(v => if (v == null) "" else v.toString))
    }
  }

  /** One sorted serial-dated collect for the reference upload path
    * (S6, `google_cloud_client.py:101-197`): Date columns become Excel
    * serials, and `orderBy` makes the collected row order deterministic
    * (the reference relied on eager concat order; Spark guarantees none
    * without a sort — SURVEY §7.6). Callers with several sheet targets
    * collect once and fan the payload out via [[uploadPayload]].
    */
  def collectSheetPayload(df: DataFrame, orderBy: Seq[Column]): (Seq[Any], Seq[Seq[Any]]) = {
    val serial = withExcelSerialDates(if (orderBy.nonEmpty) df.orderBy(orderBy: _*) else df)
    (serial.columns.toSeq, serial.collect().map(_.toSeq).toSeq)
  }

  /** Clear the column range then upload header + rows (driver-side only). */
  def uploadPayload(svc: SheetService, header: Seq[Any], rows: Seq[Seq[Any]],
      sheetKey: String, sheetName: String): Unit = {
    svc.clearRange(sheetKey, sheetName, A1.range(rows.length.toLong, header.length, "column_range"))
    svc.update(
      sheetKey, sheetName,
      A1.range(rows.length.toLong, header.length, "full_range"),
      header +: rows)
  }

  /** Inverse path: fetch a range and build the all-String row frame
    * (reference S4, `google_cloud_client.py:44-99`).
    */
  def getDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      svc: SheetService,
      sheetKey: String,
      sheetName: String,
      a1Range: String): DataFrame = {
    val payload = svc.get(sheetKey, sheetName, a1Range)
    require(payload.nonEmpty, s"empty range $a1Range in $sheetKey/$sheetName")
    Sources.fromRows(spark, payload.head, payload.tail)
  }
}
