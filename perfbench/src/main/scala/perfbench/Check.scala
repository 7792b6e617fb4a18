package perfbench

import java.io.{BufferedInputStream, BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable

import graft.etl.PipelineRunner.ExportResult
import graft.io.Sinks.InMemorySheetService
import graft.util.A1

/** Correctness gate for one pipeline run: the exported CSV and the uploaded
  * sheet payload are compared with the generator's expectation. Every
  * mismatch is returned as a message; an empty list means the run is correct.
  */
object Check {

  /** Totals read back from an output, in the generator's units. */
  final case class Seen(rows: Long, perSource: Map[String, SourceTotals],
      minDay: Option[LocalDate], maxDay: Option[LocalDate])

  /** The checks that need no output re-read: row count and file name. */
  def quick(res: ExportResult, exp: Expected, prefix: String): Seq[String] = {
    val name = s"${prefix}_${exp.minDay}–${exp.maxDay}.csv"
    Seq(
      Option.when(res.rowCount != exp.rowsOut)(s"row count ${res.rowCount} != ${exp.rowsOut}"),
      Option.when(Paths.get(res.csvPath).getFileName.toString != name)(
        s"csv name ${Paths.get(res.csvPath).getFileName} != $name")
    ).flatten
  }

  def csv(path: String, header: Seq[String], exp: Expected): Seq[String] = {
    val in = new BufferedInputStream(Files.newInputStream(Paths.get(path)))
    try {
      val bom = in.readNBytes(3).toSeq
      val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8), 1 << 16)
      val head = Option(r.readLine()).map(parseLine).getOrElse(Seq.empty)
      val acc = new Acc(header)
      Iterator.continually(r.readLine()).takeWhile(_ != null).foreach { line =>
        acc.add(parseLine(line), day = s => Option.when(s.nonEmpty)(LocalDate.parse(s)))
      }
      Option.when(bom != Seq(0xEF, 0xBB, 0xBF).map(_.toByte))("csv has no UTF-8 BOM").toSeq ++
        Option.when(head != header)(s"csv header ${head.mkString("|")} != ${header.mkString("|")}") ++
        compare("csv", acc.seen, exp)
    } finally in.close()
  }

  /** The sheet target holds header + rows, dates as Excel serial days. */
  def sheet(svc: InMemorySheetService, key: String, name: String, header: Seq[String],
      exp: Expected): Seq[String] = {
    val payload = svc.get(key, name, A1.range(exp.rowsOut, header.size))
    val acc = new Acc(header)
    payload.iterator.drop(1).foreach { row =>
      acc.add(row, day = s => Option.when(s.nonEmpty)(LocalDate.ofEpochDay(s.toLong - 25569)))
    }
    val cleared = svc.cleared.toSeq.map(_._3)
    Option.when(payload.headOption.getOrElse(Seq.empty) != header)("sheet header differs").toSeq ++
      Option.when(cleared != Seq(A1.range(exp.rowsOut, header.size, "column_range")))(
        s"sheet clears ${cleared.mkString(",")}") ++
      compare("sheet", acc.seen, exp)
  }

  /** Running per-source totals over output rows in standard-schema order. */
  private final class Acc(header: Seq[String]) {
    // the day, spend and impressions columns of the apsl and like_eat
    // standard schemas
    private val src = header.indexOf("Source")
    private val day = header.indexWhere(h => h == "Day" || h == "일")
    private val spend = header.indexWhere(h => h.startsWith("Amount spent") || h.startsWith("지출 금액"))
    private val impr = header.indexWhere(h => h == "Impressions" || h == "노출")
    private var rows = 0L
    private val per = mutable.Map.empty[String, SourceTotals]
    private var min: Option[LocalDate] = None
    private var max: Option[LocalDate] = None

    def add(row: Seq[String], day: String => Option[LocalDate]): Unit = {
      rows += 1
      val s = row(src)
      val p = per.getOrElse(s, SourceTotals(0, 0, 0))
      per(s) = SourceTotals(p.rows + 1,
        p.spendCents + BigDecimal(row(spend)).setScale(2).bigDecimal.unscaledValue.longValueExact,
        p.impressions + row(impr).toLong)
      day(row(this.day)).foreach { d =>
        if (min.forall(d.isBefore)) min = Some(d)
        if (max.forall(d.isAfter)) max = Some(d)
      }
    }

    def seen: Seen = Seen(rows, per.toMap, min, max)
  }

  private def compare(what: String, seen: Seen, exp: Expected): Seq[String] =
    Seq(
      Option.when(seen.rows != exp.rowsOut)(s"$what rows ${seen.rows} != ${exp.rowsOut}"),
      Option.when(seen.perSource != exp.perSource)(
        s"$what per-source totals ${seen.perSource} != ${exp.perSource}"),
      Option.when(seen.minDay != Some(exp.minDay) || seen.maxDay != Some(exp.maxDay))(
        s"$what day range ${seen.minDay}..${seen.maxDay} != ${exp.minDay}..${exp.maxDay}")
    ).flatten

  /** One RFC-4180 line: quoted fields may hold commas and doubled quotes. */
  def parseLine(line: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new java.lang.StringBuilder
    var quoted = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
        else if (c == '"') quoted = false
        else cur.append(c)
      } else if (c == '"') quoted = true
      else if (c == ',') { out += cur.toString; cur.setLength(0) }
      else cur.append(c)
      i += 1
    }
    out += cur.toString
    out.toSeq
  }
}
