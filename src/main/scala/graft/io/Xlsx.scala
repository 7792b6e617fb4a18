package graft.io

import java.io.InputStream
import java.nio.file.Path
import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.{A1, Columns}

/** Minimal XLSX source (reference S2, `multi_source_ad_etl.py:102`) built on
  * the JDK only — zip + StAX — since no spreadsheet connector resolves
  * offline (SURVEY §7.5 documented this gap; this closes it).
  *
  * Supports the subset ad-platform exports use: first worksheet, shared and
  * inline strings, numbers, booleans, and STYLE-AWARE NATIVE DATES: cells
  * whose `xl/styles.xml` number format is a date format (builtin ids or a
  * custom code with date tokens) arrive as Excel serial numbers and are
  * converted to ISO date / datetime STRINGS — keeping the engine contract
  * that cleaners normalize and `conform` casts (the reference gets the same
  * shape from fastexcel, `multi_source_ad_etl.py:102`).
  *
  * Parsing is driver-side and eager, matching the reference's read model
  * (one small export file per source per day). Large-file ingestion is the
  * CSV/parquet path, not this.
  */
object Xlsx {

  /** Read the first worksheet as (header, rows); rows are aligned to the
    * header width by cell reference (genuine gaps become null; explicit
    * empty-string cells stay ""). A data cell beyond the header width is an
    * error — silently dropping data would hide a malformed export.
    */
  def parse(file: Path): (Seq[String], Seq[Seq[String]]) = {
    val zip = new ZipFile(file.toFile)
    try {
      val shared = Option(zip.getEntry("xl/sharedStrings.xml"))
        .map(e => parseSharedStrings(zip.getInputStream(e)))
        .getOrElse(Vector.empty)
      val dateStyles = Option(zip.getEntry("xl/styles.xml"))
        .map(e => parseStyles(zip.getInputStream(e)))
        .getOrElse(Map.empty[Int, Boolean])
      val sheetEntry = firstSheetEntry(zip)
      val cells = parseSheet(zip.getInputStream(sheetEntry), shared, dateStyles)
      require(cells.nonEmpty, s"empty worksheet in $file")
      // keep columns through interior header gaps (decorative/merged spacer
      // cells): trim trailing blanks only, name interior blanks like Polars'
      // __UNNAMED__{i} placeholders
      val rawHeader = cells.head.map(_.orNull)
      val lastNamed = rawHeader.lastIndexWhere(h => h != null && h.nonEmpty)
      require(lastNamed >= 0, s"no header row in $file")
      val header = rawHeader.take(lastNamed + 1).zipWithIndex.map {
        case (h, i) if h == null || h.isEmpty => s"__UNNAMED__$i"
        case (h, _)                           => h
      }
      val rows = cells.tail.zipWithIndex.map { case (r, ri) =>
        val overflow = r.drop(header.length).count(_.exists(_.nonEmpty))
        require(overflow == 0,
          s"data row ${ri + 2} in $file has $overflow non-empty cell(s) beyond " +
            s"the ${header.length}-column header — refusing to drop data silently")
        (0 until header.length).map(i => if (i < r.length) r(i).orNull else null).toSeq
      }
      (header.toSeq, rows.toSeq)
    } finally zip.close()
  }

  /** Full-schema-inference read (the `read_excel(infer_schema_length=None)`
    * analog): every column where all non-null values parse as long / double
    * / ISO date / boolean is cast accordingly; otherwise it stays a string.
    */
  def read(spark: SparkSession, file: Path): DataFrame = {
    val (header, rows) = parse(file)
    val asStrings = Sources.fromRows(spark, header, rows)
    val casts = header.zipWithIndex.map { case (name, i) =>
      val values = rows.flatMap(r => Option(r(i))).filter(_.nonEmpty)
      val dt = inferType(values)
      val c0 = Columns.named(name)
      // empty-string cells survive as "" in string columns, but must become
      // null before a strict (ANSI) cast to a typed column
      val c = if (dt == StringType) c0 else when(c0 === "", lit(null)).otherwise(c0)
      c.cast(dt).as(name)
    }
    asStrings.select(casts: _*)
  }

  private val LongRe = "[+-]?\\d{1,18}".r
  private val DoubleRe = "[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?".r
  private val DateRe = "\\d{4}-\\d{2}-\\d{2}".r
  private val DateTimeRe = "\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}".r
  private val BoolRe = "(?i)true|false".r

  /** Calendar-valid, not just regex-shaped — an ANSI strict cast of
    * '2026-02-30' would otherwise crash the whole read at action time.
    */
  private def isValidDate(s: String): Boolean =
    DateRe.matches(s) && scala.util.Try(java.time.LocalDate.parse(s)).isSuccess

  private def isValidDateTime(s: String): Boolean =
    DateTimeRe.matches(s) &&
      scala.util.Try(java.time.LocalDateTime.parse(s.replace(' ', 'T'))).isSuccess

  private def inferType(values: Seq[String]): DataType =
    if (values.isEmpty) StringType
    else if (values.forall(LongRe.matches)) LongType
    else if (values.forall(DoubleRe.matches)) DoubleType
    else if (values.forall(isValidDate)) DateType
    else if (values.forall(isValidDateTime)) TimestampType
    else if (values.forall(BoolRe.matches)) BooleanType
    else StringType

  // ------------------------------------------------------------- styles

  /** Builtin OOXML number-format ids that render as dates/datetimes
    * (ECMA-376 §18.8.30): 14–22 date/datetime, 27–36 and 50–58 era/locale
    * dates, 45–47 are time-only and deliberately excluded (a pure time has
    * no calendar date to surface).
    */
  private val BuiltinDateFmts: Set[Int] = ((14 to 22) ++ (27 to 36) ++ (50 to 58)).toSet

  /** Builtin ids whose format includes a TIME component (datetime, not just
    * date): 22 is m/d/yy h:mm.
    */
  private val BuiltinDateTimeFmts: Set[Int] = Set(22)

  private def cleanFormatCode(code: String): String = code
    .replaceAll("\"[^\"]*\"", "")
    .replaceAll("\\\\.", "")
    .replaceAll("\\[[^\\]]*\\]", "")
    .toLowerCase(java.util.Locale.ROOT)

  /** Is a custom format code a date format? Strip quoted literals, escaped
    * chars, and bracketed sections ([Red], [$-409], [h]); a remaining `y` or
    * `d` token means a calendar date (a lone `m`/`h`/`s` is time-only).
    */
  private[io] def isDateFormatCode(code: String): Boolean =
    cleanFormatCode(code).exists(c => c == 'y' || c == 'd')

  /** A date format with an additional time token renders as a datetime. */
  private[io] def isDateTimeFormatCode(code: String): Boolean = {
    val cleaned = cleanFormatCode(code)
    isDateFormatCode(code) && cleaned.exists(c => c == 'h' || c == 's')
  }

  /** Style indices (cellXfs order — what a cell's `s` attribute points at)
    * whose number format is a date format; value = format includes a time
    * component (drives date vs datetime rendering — a midnight datetime must
    * still render "… 00:00:00" so its column stays uniformly datetime).
    */
  private def parseStyles(in: InputStream): Map[Int, Boolean] = {
    val customDate = mutable.Map.empty[Int, Boolean] // numFmtId -> hasTime
    val styleFmts = Vector.newBuilder[Int]
    var inCellXfs = false
    val r = newReader(in)
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "numFmt" =>
              for {
                id <- Option(r.getAttributeValue(null, "numFmtId")).flatMap(_.toIntOption)
                code <- Option(r.getAttributeValue(null, "formatCode"))
                if isDateFormatCode(code)
              } customDate(id) = isDateTimeFormatCode(code)
            case "cellXfs" => inCellXfs = true
            case "xf" if inCellXfs =>
              styleFmts += Option(r.getAttributeValue(null, "numFmtId"))
                .flatMap(_.toIntOption).getOrElse(0)
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" =>
          inCellXfs = false
        case _ =>
      }
    }
    r.close()
    styleFmts.result().zipWithIndex.collect {
      case (fmt, i) if BuiltinDateFmts(fmt) || customDate.contains(fmt) =>
        i -> (BuiltinDateTimeFmts(fmt) || customDate.getOrElse(fmt, false))
    }.toMap
  }

  private val SerialEpoch = java.time.LocalDate.of(1899, 12, 30)
  private val DateTimeFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Excel serial → ISO string. The STYLE decides the rendering, not the
    * value: a datetime-styled cell always gets "yyyy-MM-dd HH:mm:ss" (a
    * midnight row must not degrade the column to mixed date/datetime →
    * StringType), a date-styled cell always gets the date (time fraction
    * truncated, like fastexcel). Pre-1900-03-01 serials inherit Excel's
    * 1900-leap-year fiction (same 1899-12-30 epoch all libraries use) —
    * irrelevant for real exports. Non-numeric input passes through with the
    * ISO 'T' separator normalized (covers ISO-typed `t="d"` cells).
    */
  private[io] def serialToIso(raw: String, withTime: Boolean): String =
    raw.trim.toDoubleOption match {
      case Some(serial) =>
        val days = math.floor(serial).toLong
        val frac = serial - days
        val date = SerialEpoch.plusDays(days)
        val secs = math.round(frac * 86400.0)
        val (d2, s2) = if (secs >= 86400L) (date.plusDays(1), 0L) else (date, secs)
        if (!withTime) d2.toString
        else java.time.LocalDateTime
          .of(d2, java.time.LocalTime.ofSecondOfDay(s2)).format(DateTimeFmt)
      case None =>
        if (raw.matches("\\d{4}-\\d{2}-\\d{2}T.*")) raw.replaceFirst("T", " ")
        else raw
    }

  private def firstSheetEntry(zip: ZipFile) =
    Option(zip.getEntry("xl/worksheets/sheet1.xml")).getOrElse {
      // fall back to the lowest-numbered worksheet present (numeric sort —
      // lexicographic would put sheet10 before sheet2)
      import scala.jdk.CollectionConverters._
      zip.entries().asScala.toSeq
        .filter(e => e.getName.matches("xl/worksheets/sheet\\d+\\.xml"))
        .sortBy(e => e.getName.replaceAll("\\D", "").toInt)
        .headOption
        .getOrElse(throw new IllegalArgumentException("no worksheet in xlsx"))
    }

  private def newReader(in: InputStream): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    // archive content is untrusted: no DTDs, no external entities
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(in)
  }

  private def parseSharedStrings(in: InputStream): Vector[String] = {
    val out = Vector.newBuilder[String]
    val r = newReader(in)
    var inSi = false
    var phoneticDepth = 0 // skip <rPh>/<phoneticPr> runs (furigana) — only real text
    val sb = new StringBuilder
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "si" =>
          inSi = true; phoneticDepth = 0; sb.clear()
        case XMLStreamConstants.START_ELEMENT if inSi && (r.getLocalName == "rPh" || r.getLocalName == "phoneticPr") =>
          phoneticDepth += 1
        case XMLStreamConstants.END_ELEMENT if inSi && (r.getLocalName == "rPh" || r.getLocalName == "phoneticPr") =>
          phoneticDepth -= 1
        case XMLStreamConstants.START_ELEMENT if inSi && phoneticDepth == 0 && r.getLocalName == "t" =>
          sb.append(r.getElementText)
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" =>
          inSi = false; out += sb.toString
        case _ =>
      }
    }
    r.close()
    out.result()
  }

  /** Rows of cells; each row is a sparse-to-dense vector of Option[String]
    * indexed by the cell reference's column letters. Numeric cells whose
    * style is a date format are converted from Excel serials to ISO strings.
    */
  private def parseSheet(in: InputStream, shared: Vector[String],
      dateStyles: Map[Int, Boolean]): Vector[Vector[Option[String]]] = {
    val rows = Vector.newBuilder[Vector[Option[String]]]
    val r = newReader(in)
    var row = mutable.ArrayBuffer.empty[Option[String]]
    var cellCol = -1
    var cellType = ""
    var cellStyle = -1
    var value: Option[String] = None
    var inV = false
    var inIsT = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" => row = mutable.ArrayBuffer.empty[Option[String]]
            case "c" =>
              cellCol = Option(r.getAttributeValue(null, "r"))
                .map(ref => A1.bijectiveBase26ToInt(ref.takeWhile(_.isLetter)) - 1)
                .getOrElse(row.length)
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
              cellStyle = Option(r.getAttributeValue(null, "s"))
                .flatMap(_.toIntOption).getOrElse(-1)
              value = None
            case "v" => inV = true
            case "t" => inIsT = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS if inV || inIsT =>
          value = Some(value.getOrElse("") + r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v" => inV = false
            case "t" => inIsT = false
            case "c" =>
              val resolved = (cellType, value) match {
                case ("s", Some(idx)) => shared.lift(idx.trim.toInt)
                case ("b", Some(v))   => Some(if (v.trim == "1") "true" else "false")
                // numeric (default / "n") or ISO ("d") cell with a
                // date-format style → ISO date/datetime string
                case (t, Some(v)) if dateStyles.contains(cellStyle) && (t == "" || t == "n" || t == "d") =>
                  Some(serialToIso(v, withTime = dateStyles(cellStyle)))
                case (_, v) => v
              }
              while (row.length <= cellCol) row += None
              // keep "" — an explicit empty string is data; only genuinely
              // absent cells are null
              row(cellCol) = resolved
            case "row" => rows += row.toVector
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    rows.result()
  }
}
