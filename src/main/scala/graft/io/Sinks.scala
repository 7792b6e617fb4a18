package graft.io

import java.io.StringWriter
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

import graft.util.A1

/** Output connectors (reference S5/S6 + E13 — SURVEY §2.1). */
object Sinks {

  private val Utf8Bom: Array[Byte] = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)

  /** How [[writeCsvWithBom]] renders its parts and its header. RFC-4180
    * quote doubling ("" not \") — Excel, the BOM's whole purpose,
    * mis-parses backslash escapes. The parts carry no header: the driver
    * writes it once, ahead of them.
    */
  private val CsvWriteOptions: Map[String, String] = Map("header" -> "false", "escape" -> "\"")

  /** Write a DataFrame as ONE headered CSV file at `outFile`, prepending a
    * UTF-8 BOM so Excel renders Korean text correctly — the reference's
    * `write_csv(include_bom=True)` (S5, `apsl_internal.py:191`). Spark's CSV
    * sink has no BOM option, so the sorted frame is written as header-less
    * parts in parallel, one per partition, to a stage dir next to `outFile`;
    * the driver then streams BOM + header + the parts in partition order
    * into one staged file and renames it onto `outFile`. A failed write
    * leaves any earlier `outFile` as it was.
    */
  def writeCsvWithBom(df: DataFrame, outFile: String, orderBy: Seq[Column] = Nil): Unit = {
    val out = Paths.get(outFile).toAbsolutePath
    Option(out.getParent).foreach(Files.createDirectories(_))
    // same filesystem as `out`, so the final move is a rename
    val tmp = Files.createTempDirectory(out.getParent, ".csv-stage-")
    try {
      val ordered = if (orderBy.nonEmpty) df.orderBy(orderBy: _*) else df
      val partsDir = tmp.resolve("parts")
      ordered.write.options(CsvWriteOptions).csv(partsDir.toString)
      val parts = Using.resource(Files.list(partsDir))(_.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq)
        // then by name: `maxRecordsPerFile` splits a partition into c000, c001…
        .sortBy(p => (partIndex(p.getFileName.toString), p.getFileName.toString))
      val staged = tmp.resolve("out.csv")
      // stream the parts after the BOM and header — readAllBytes would hold
      // the whole CSV on the driver heap
      Using.resource(Files.newOutputStream(staged)) { os =>
        os.write(Utf8Bom)
        os.write(csvHeader(ordered))
        parts.foreach(Files.copy(_, os))
      }
      Files.move(staged, out, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } finally {
      Using.resource(Files.walk(tmp))(
        _.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)))
    }
  }

  /** The partition id in a Spark part file name (`part-00012-<job>-c000.csv`),
    * as a number: past 99,999 partitions the id outgrows its 5-digit padding
    * and string order is no longer partition order.
    */
  private[io] def partIndex(fileName: String): Long =
    fileName.stripPrefix("part-").takeWhile(_.isDigit).toLong

  /** The header line Spark's CSV writer puts at the top of a part written
    * with `header=true`: Spark's own generator, with the options and
    * session conf that Spark's CSV sink builds for the parts.
    */
  private def csvHeader(df: DataFrame): Array[Byte] = {
    val conf = castToImpl(df.sparkSession).sessionState.conf
    val options = new CSVOptions(CsvWriteOptions, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val text = new StringWriter
    val gen = new UnivocityGenerator(df.schema, text, options)
    gen.writeHeaders()
    gen.close()
    text.toString.getBytes(options.charset)
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
