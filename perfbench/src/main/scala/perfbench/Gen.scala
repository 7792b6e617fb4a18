package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

/** What a correct pipeline must produce from one generated raw directory,
  * derived while writing the files and independently of the program.
  * Spend is kept in exact cents.
  */
final case class SourceTotals(rows: Long, spendCents: Long, impressions: Long)

final case class Expected(
    files: Int,
    fileBytes: Long,
    rowsIn: Long,
    rowsRemoved: Long,
    perSource: Map[String, SourceTotals],
    minDay: LocalDate,
    maxDay: LocalDate) {
  def rowsOut: Long = perSource.values.map(_.rows).sum
}

/** Seeded generators of raw ad-report exports. The same seed gives the same
  * bytes. Each column is described by a kind, and the row writer keeps the
  * running totals the expectation needs.
  */
object Gen {

  sealed trait Kind
  case object DayIso extends Kind
  case object DayDotted extends Kind
  final case class Name(prefix: String) extends Kind
  case object AdName extends Kind
  /** The column the config maps to the standard spend column. */
  case object Spend extends Kind
  case object Money extends Kind
  case object Impressions extends Kind
  case object Count extends Kind
  case object Ratio extends Kind
  case object RatioOrDash extends Kind
  case object AgeGender extends Kind

  /** The five age/gender spellings Naver GFA exports use. */
  val AgeGenders: Array[String] = Array(
    "25세~34세 남성", "45세 이상 여자", "연령모름 성별모름", "18세–24세 여성",
    "35 세 ~ 44 세 남자")

  final case class SourceSpec(source: String, columns: Seq[(String, Kind)]) {
    def header: String = columns.map(_._1).mkString(",")
  }

  // apsl raw exports, headers before the pipeline's capitalize step
  val Meta = SourceSpec("Meta", Seq(
    "Day" -> DayIso, "Account Name" -> Name("acct"), "Campaign Name" -> Name("camp"),
    "Ad Set Name" -> Name("set"), "Ad Name" -> AdName, "Amount Spent (USD)" -> Spend,
    "Impressions" -> Impressions, "Reach" -> Count, "Frequency" -> Ratio,
    "Link Clicks" -> Count, "Registrations Completed" -> Count, "Adds To Cart" -> Count,
    "Checkouts Initiated" -> Count, "Purchases" -> Count,
    "Purchases Conversion Value" -> Money))
  val MetaOlive = SourceSpec("Meta_OLIVE", Seq(
    "Day" -> DayIso, "Campaign Name" -> Name("camp"), "Ad Set Name" -> Name("set"),
    "Ad Name" -> AdName, "Amount Spent (USD)" -> Spend, "Impressions" -> Impressions,
    "Frequency" -> Ratio, "Reach" -> Count, "Link Clicks" -> Count,
    "Adds To Cart With Shared Items" -> Count, "Purchases With Shared Items" -> Count,
    "Purchases Conversion Value For Shared Items Only" -> Money))
  val MetaLead = SourceSpec("Meta_Lead", Seq(
    "Day" -> DayIso, "Campaign Name" -> Name("camp"), "Ad Set Name" -> Name("set"),
    "Ad Name" -> AdName, "Amount Spent (USD)" -> Spend, "Impressions" -> Impressions,
    "Frequency" -> Ratio, "Reach" -> Count, "Link Clicks" -> Count, "Leads" -> Count,
    "Leads Conversion Value" -> Money))
  val X = SourceSpec("X (Twitter)", Seq(
    "Time Period" -> DayIso, "Funding Source Name" -> Name("fund"),
    "Ad Group Name" -> Name("grp"), "Campaign Name" -> Name("camp"), "Spend" -> Spend,
    "Impressions" -> Impressions, "Link Clicks" -> Count, "Leads" -> Count,
    "Cart Additions" -> Count, "Checkouts Initiated" -> Count, "Purchases" -> Count,
    "Purchases - Sale Amount" -> Money, "Average Frequency" -> RatioOrDash))
  val TikTok = SourceSpec("TikTok", Seq(
    "By Day" -> DayIso, "Account Name" -> Name("acct"), "Campaign Name" -> Name("camp"),
    "Ad Group Name" -> Name("grp"), "Ad Name" -> AdName, "Cost" -> Spend,
    "Impressions" -> Impressions, "Frequency" -> Ratio, "Reach" -> Count,
    "Clicks (Destination)" -> Count, "Adds To Cart (Website)" -> Count,
    "Checkouts Initiated (Website)" -> Count, "Purchases (Website)" -> Count,
    "Purchase Value (Website)" -> Money))

  // like_eat raw exports (Korean headers)
  val MetaNaver = SourceSpec("Meta_naver", Seq(
    "일" -> DayIso, "캠페인 이름" -> Name("캠페인"), "광고 세트 이름" -> Name("세트"),
    "광고 이름" -> AdName, "웹사이트 URL" -> Name("https://ex.kr/p"),
    "지출 금액 (KRW)" -> Spend, "노출" -> Impressions, "빈도" -> Ratio, "도달" -> Count,
    "링크 클릭" -> Count, "공유 항목이 포함된 장바구니에 담기" -> Count,
    "공유 항목이 포함된 구매" -> Count, "공유 항목의 구매 전환값" -> Money,
    "동영상 25% 재생" -> Count, "동영상 50% 재생" -> Count, "동영상 75% 재생" -> Count,
    "동영상 95% 재생" -> Count, "동영상 100% 재생" -> Count, "동영상 재생" -> Count,
    "ThruPlay" -> Count))
  val NaverGfa = SourceSpec("Naver_GFA", Seq(
    "기간" -> DayDotted, "애셋 그룹 이름" -> Name("애셋"), "캠페인 이름" -> Name("캠페인"),
    "총 비용" -> Spend, "노출" -> Impressions, "클릭" -> Count, "구매완료수" -> Count,
    "장바구니 담기수" -> Count, "구매완료 전환 매출액" -> Money, "연령 및 성별" -> AgeGender))

  private final class Totals {
    var files = 0
    var bytes = 0L
    var rowsIn = 0L
    var removed = 0L
    val perSource = scala.collection.mutable.Map.empty[String, SourceTotals]
    var minDay: LocalDate = LocalDate.MAX
    var maxDay: LocalDate = LocalDate.MIN

    def expected: Expected =
      Expected(files, bytes, rowsIn, removed, perSource.toMap, minDay, maxDay)
  }

  /** Writes one export of `rows` data rows over the days
    * `[firstDay, firstDay + spanDays)`. `totalRow` prepends the TikTok
    * "Total" summary row the cleaner removes; `nullDayFrac` leaves that share
    * of day cells empty (kept by the cleaner, null after the cast); `dashes`
    * puts X's `-` placeholder into some `Average Frequency` cells, so the
    * column reads as text in that file only.
    */
  private def writeFile(
      file: Path, spec: SourceSpec, rows: Int, firstDay: LocalDate, spanDays: Int,
      rnd: SplittableRandom, t: Totals, totalRow: Boolean = false,
      nullDayFrac: Double = 0.0, dashes: Boolean = false): Unit = {
    var spend = 0L
    var impressions = 0L
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(file),
      StandardCharsets.UTF_8), 1 << 16)
    try {
      w.write(spec.header)
      if (totalRow) {
        w.write("\nTotal of " + rows + " campaigns")
        spec.columns.tail.foreach { case (_, k) =>
          w.write(',')
          k match {
            case Spend | Money | Impressions | Count => w.write((rnd.nextInt(1000000) + 1).toString)
            case Ratio => w.write("1.50")
            case _ => ()
          }
        }
      }
      val sb = new java.lang.StringBuilder(512)
      for (_ <- 0 until rows) {
        sb.setLength(0)
        sb.append('\n')
        spec.columns.iterator.zipWithIndex.foreach { case ((_, kind), i) =>
          if (i > 0) sb.append(',')
          kind match {
            case DayIso | DayDotted =>
              if (nullDayFrac == 0.0 || rnd.nextDouble() >= nullDayFrac) {
                val d = firstDay.plusDays(rnd.nextInt(spanDays).toLong)
                if (d.isBefore(t.minDay)) t.minDay = d
                if (d.isAfter(t.maxDay)) t.maxDay = d
                if (kind == DayIso) sb.append(d.toString)
                else sb.append(d.getYear).append('.').append(two(d.getMonthValue))
                  .append('.').append(two(d.getDayOfMonth)).append('.')
              }
            case Name(p) => sb.append(p).append('_').append(rnd.nextInt(40))
            case AdName =>
              val n = rnd.nextInt(400)
              rnd.nextInt(10) match {
                case 0 => sb.append("\"creative ").append(n).append(", cut B\"")
                case 1 | 2 => sb.append("video_").append(n).append(".mp4")
                case _ => sb.append("ad_").append(n)
              }
            case Spend | Money =>
              val cents = rnd.nextLong(1L, 5000000L)
              if (kind == Spend) spend += cents
              sb.append(cents / 100).append('.').append(two((cents % 100).toInt))
            case Impressions =>
              val v = rnd.nextLong(1L, 3000000L)
              impressions += v
              sb.append(v)
            case Count => sb.append(rnd.nextInt(100000))
            case Ratio => sb.append(1 + rnd.nextInt(3)).append('.').append(two(rnd.nextInt(100)))
            case RatioOrDash =>
              if (dashes && rnd.nextInt(4) == 0) sb.append('-')
              else sb.append(1).append('.').append(two(rnd.nextInt(100)))
            case AgeGender => sb.append(AgeGenders(rnd.nextInt(AgeGenders.length)))
          }
        }
        w.append(sb)
      }
    } finally w.close()
    val prev = t.perSource.getOrElse(spec.source, SourceTotals(0, 0, 0))
    t.perSource(spec.source) = SourceTotals(
      prev.rows + rows, prev.spendCents + spend, prev.impressions + impressions)
    t.files += 1
    t.bytes += Files.size(file)
    t.rowsIn += rows + (if (totalRow) 1 else 0)
    if (totalRow) t.removed += 1
  }

  /** `etl_many_files`: `files` small apsl exports cycling through the five
    * sources, each covering a 7-30 day window of 2025. The seed splits a
    * fixed total of `rows` data rows over the files, at least 20 each.
    */
  def manyFiles(dir: Path, seed: Long, files: Int, rows: Int): Expected = {
    val rnd = new SplittableRandom(seed)
    val t = new Totals
    val specs = Seq(Meta, MetaOlive, MetaLead, X, TikTok)
    val spare = rows - 20 * files
    val cuts = (0 +: Seq.fill(files - 1)(rnd.nextInt(spare + 1)).sorted :+ spare).toIndexedSeq
    for (i <- 0 until files) {
      val spec = specs(i % specs.size)
      val name = f"export_$i%03d_${spec.source.takeWhile(_.isLetter).toLowerCase}.csv"
      writeFile(dir.resolve(name), spec, rows = 20 + cuts(i + 1) - cuts(i),
        firstDay = LocalDate.of(2025, 1, 1).plusDays(rnd.nextInt(330).toLong),
        spanDays = 7 + rnd.nextInt(24), rnd = rnd, t = t,
        totalRow = spec eq TikTok, nullDayFrac = if (spec eq TikTok) 0.03 else 0.0,
        dashes = (spec eq X) && rnd.nextBoolean())
    }
    t.expected
  }

  /** `etl_large_files`: two Korean Meta exports and two Naver GFA exports of
    * `rowsPerFile` rows each over the same 90-day window.
    */
  def largeFiles(dir: Path, seed: Long, rowsPerFile: Int): Expected = {
    val rnd = new SplittableRandom(seed)
    val t = new Totals
    val first = LocalDate.of(2026, 1, 1)
    Seq(MetaNaver -> "meta_naver", NaverGfa -> "naver_gfa").foreach { case (spec, stem) =>
      for (i <- 1 to 2)
        writeFile(dir.resolve(s"${stem}_$i.csv"), spec, rowsPerFile, first, 90, rnd, t)
    }
    t.expected
  }

  private def two(n: Int): String = if (n < 10) "0" + n else n.toString
}
