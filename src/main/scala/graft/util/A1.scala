package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{date_format, max, min}
import org.apache.spark.sql.types.{DateType, StructType}

/** Spreadsheet A1-range math and date-range filenames (reference M4–M6,
  * `utils.py:6-60`). Pure driver-side utilities; the only Spark action is
  * the single min/max aggregation in [[makeDateFilename]]. A caller that
  * needs other aggregates too (the pipeline's row count) puts
  * [[dateBounds]] in its own `agg` and names the file with
  * [[dateFilename]], so one job serves both.
  */
object A1 {

  /** 1→A, 26→Z, 27→AA … (bijective base-26; ref `utils.py:43-48`). */
  def intToBijectiveBase26(n: Int): String = {
    require(n > 0, s"column index must be positive, got $n")
    @annotation.tailrec
    def loop(n: Int, acc: String): String =
      if (n <= 0) acc
      else loop((n - 1) / 26, ((65 + (n - 1) % 26).toChar +: acc).mkString)
    loop(n, "")
  }

  /** Inverse of [[intToBijectiveBase26]] (for property tests). */
  def bijectiveBase26ToInt(s: String): Int =
    s.foldLeft(0)((acc, c) => acc * 26 + (c - 'A' + 1))

  /** A1 range for a table of `nRows` data rows × `nCols` columns (+1 header
    * row), with optional offsets. `column_range` = letters only ("A:Q");
    * `full_range` = full rectangle ("A1:Q101"). Ref `utils.py:29-60`.
    */
  def range(
      nRows: Long,
      nCols: Int,
      rangeMode: String = "full_range",
      verticalOffset: Int = 0,
      horizontalOffset: Int = 0): String = {
    val length = nRows + 1 // header row
    val a1Start = intToBijectiveBase26(1 + horizontalOffset)
    val intStart = 1 + verticalOffset
    val a1End = intToBijectiveBase26(nCols + horizontalOffset)
    val intEnd = length + verticalOffset
    rangeMode match {
      case "column_range" => s"$a1Start:$a1End"
      case "full_range"   => s"$a1Start$intStart:$a1End$intEnd"
      case other => throw new IllegalArgumentException(s"Unknown range_mode: $other")
    }
  }

  private val RangeRe = "^([A-Z]+)([0-9]*)(?::([A-Z]+)([0-9]*))?$".r

  /** Parse an A1 range back to 1-based bounds:
    * `(colStart, rowStart, colEnd, rowEnd)` — row bounds are None for a
    * column-only range ("A:Q"); a single cell ("B2") is its own end.
    * Inverse of [[range]] (property-tested round trip).
    */
  def parseRange(a1: String): (Int, Option[Long], Int, Option[Long]) = a1 match {
    case RangeRe(c1, r1, c2, r2) =>
      val colStart = bijectiveBase26ToInt(c1)
      val rowStart = if (r1 == null || r1.isEmpty) None else Some(r1.toLong)
      val colEnd = if (c2 == null) colStart else bijectiveBase26ToInt(c2)
      val rowEnd =
        if (c2 == null) rowStart
        else if (r2 == null || r2.isEmpty) None else Some(r2.toLong)
      require(colEnd >= colStart && rowEnd.zip(rowStart).forall { case (e, s) => e >= s },
        s"inverted A1 range: $a1")
      (colStart, rowStart, colEnd, rowEnd)
    case other => throw new IllegalArgumentException(s"malformed A1 range: $other")
  }

  /** The column a date-range file name is built from: the FIRST DateType
    * column; errors when none exists (`utils.py:17-21`).
    */
  def dateColumn(schema: StructType): String =
    schema.fields.collectFirst { case f if f.dataType == DateType => f.name }
      .getOrElse(throw new IllegalArgumentException(s"Date col not found in schema ${schema.simpleString}"))

  /** The two aggregates the file name needs: min and max of `dateCol` as
    * `yyyy-MM-dd` strings, for the caller to put in one `agg` with any
    * other aggregates it wants from the same job.
    */
  def dateBounds(dateCol: String): Seq[Column] = Seq(
    date_format(min(Columns.named(dateCol)), "yyyy-MM-dd"),
    date_format(max(Columns.named(dateCol)), "yyyy-MM-dd"))

  /** `"{prefix}_{min}–{max}.csv"` (EN-DASH separator, ref `utils.py:26`)
    * from the [[dateBounds]] values; errors when `dateCol` held no non-null
    * date (min is null exactly when every value is null or the frame is
    * empty): there is no range to name.
    */
  def dateFilename(prefix: String, dateCol: String, minDay: String, maxDay: String): String = {
    if (minDay == null)
      throw new IllegalArgumentException(
        s"""Date col "$dateCol" has no non-null value: no date range for the file name""")
    s"${prefix}_$minDay–$maxDay.csv"
  }

  /** The date-range file name of `df` ([[dateColumn]], [[dateFilename]]).
    * One job computes both bounds (the reference runs two full passes).
    */
  def makeDateFilename(prefix: String, df: DataFrame): String = {
    val dateCol = dateColumn(df.schema)
    val row = df.select(dateBounds(dateCol): _*).head()
    dateFilename(prefix, dateCol, row.getString(0), row.getString(1))
  }
}
