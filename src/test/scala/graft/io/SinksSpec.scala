package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.SparkSpec
import graft.util.A1
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType}

class SinksSpec extends SparkSpec {

  test("writeCsvWithBom escapes embedded quotes RFC-4180 style (doubling, not backslash)") {
    import spark.implicits._
    val df = Seq(("""ACME "Summer" Sale""", 1)).toDF("name", "n")
    val out = java.nio.file.Files.createTempDirectory("csv-q").resolve("q.csv")
    Sinks.writeCsvWithBom(df, out.toString)
    val body = new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
    assert(body.contains("\"ACME \"\"Summer\"\" Sale\""))
    assert(!body.contains("\\\""))
  }

  import spark.implicits._

  test("writeCsvWithBom produces one headered CSV starting with the UTF-8 BOM") {
    val df = Seq(("한글", 1L), ("english", 2L)).toDF("name", "n")
    val out = Files.createTempDirectory("graft-sink").resolve("out.csv")
    Sinks.writeCsvWithBom(df, out.toString, orderBy = Seq(col("n")))
    val bytes = Files.readAllBytes(out)
    assert(bytes.take(3).toSeq == Seq(0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
    val text = new String(bytes.drop(3), "UTF-8")
    assert(text.linesIterator.toSeq == Seq("name,n", "한글,1", "english,2"))
  }

  test("withExcelSerialDates: 2025-08-01 -> 45870, non-date columns untouched") {
    val df = Seq(("2025-08-01", "x"), ("1970-01-01", "y"))
      .toDF("Day", "tag")
      .select(col("Day").cast(DateType).as("Day"), col("tag"))
    val out = Sinks.withExcelSerialDates(df).orderBy(desc("Day")).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(45870L, 25569L))
    assert(Sinks.withExcelSerialDates(df).schema("Day").dataType == LongType)
    assert(out.map(_.getString(1)).toSeq == Seq("x", "y"))
  }

  test("sheet payload pair clears the column range, uploads serial dates") {
    val svc = new Sinks.InMemorySheetService
    val df = Seq(("2025-08-01", 10L), ("2025-08-02", 20L)).toDF("Day", "Clicks")
      .select(col("Day").cast(DateType).as("Day"), col("Clicks"))
    val (header, payload) = Sinks.collectSheetPayload(df, orderBy = Seq(col("Day")))
    Sinks.uploadPayload(svc, header, payload, "key1", "raw")
    assert(svc.cleared.toSeq == Seq(("key1", "raw", "A:B")))
    val rows = svc.get("key1", "raw", "A1:B3")
    assert(rows == Seq(Seq("Day", "Clicks"), Seq("45870", "10"), Seq("45871", "20")))
  }

  test("collectSheetPayload is the plain sorted serial-dated collect, one instance per distinct string and serial day per column") {
    val df = (0 until 240).map { i =>
      (if (i % 7 == 0) null else s"campaign ${i % 3}", s"ad $i",
        if (i % 11 == 0) null else s"2025-08-0${i % 5 + 1}",
        if (i % 13 == 0) None else Some(i * 1.25), (i * 37 % 240).toLong)
    }.toDF("campaign", "ad", "day", "spend", "n")
      .select(col("campaign"), col("ad"), col("day").cast(DateType).as("day"), col("spend"), col("n"))
      .repartition(3)
    val orderBy = Seq(col("n"))
    val (header, payload) = Sinks.collectSheetPayload(df, orderBy)
    val plain = Sinks.withExcelSerialDates(df.orderBy(orderBy: _*)).collect()

    assert(header == Seq("campaign", "ad", "day", "spend", "n"))
    assert(payload.length == 240 && payload.length == plain.length)
    payload.zip(plain).foreach { case (got, want) => assert(got == want.toSeq) }
    assert(payload.map(_(4)) == (0 until 240).map(_.toLong))
    assert(payload.map(_(2)).collect { case d: java.lang.Long => d.longValue }.toSet ==
      (45870L to 45874L).toSet)

    // columns campaign, ad and day hold 3, 240 and 5 distinct non-null values
    for ((c, distinct) <- Seq(0 -> 3, 1 -> 240, 2 -> 5)) {
      val byValue = payload.map(_(c)).filter(_ != null).map(_.asInstanceOf[AnyRef]).groupBy(identity)
      assert(byValue.size == distinct)
      byValue.values.foreach(same => assert(same.forall(_ eq same.head), s"column $c: ${same.head}"))
    }
  }

  test("getDataFrame round-trips rows as an all-String frame (S4/S7)") {
    val svc = new Sinks.InMemorySheetService
    svc.update("k", "s", "A1:B3", Seq(Seq("h1", "h2"), Seq("a", "1"), Seq("b", "2")))
    val df = Sinks.getDataFrame(spark, svc, "k", "s", "A1:B3")
    assert(df.columns.toSeq == Seq("h1", "h2"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.orderBy("h1").collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a", "1"), ("b", "2")))
  }

  test("getDataFrame pads rows whose trailing cells are blank with \"\"") {
    val svc = new Sinks.InMemorySheetService
    // the Sheets values API leaves out a row's trailing empty cells
    svc.update("k", "s", "A1:C4", Seq(
      Seq("a", "b", "c"), Seq("1", "2", "3"), Seq("4"), Seq("5", "6")))
    val df = Sinks.getDataFrame(spark, svc, "k", "s", "A1:C4")
    assert(df.columns.toSeq == Seq("a", "b", "c"))
    assert(df.orderBy("a").collect().map(_.toSeq).toSeq ==
      Seq(Seq("1", "2", "3"), Seq("4", "", ""), Seq("5", "6", "")))
  }

  test("a payload row wider than its header fails naming the row and both widths") {
    val e = intercept[IllegalArgumentException] {
      Sources.fromRows(spark, Seq("a", "b"), Seq(Seq("1", "2"), Seq("3", "4", "5")))
    }
    assert(e.getMessage.contains("row 3") && e.getMessage.contains("3 cells") &&
      e.getMessage.contains("2-column header"), e.getMessage)
  }

  test("InMemorySheetService.get crops to the requested A1 rectangle like the real API") {
    val svc = new Sinks.InMemorySheetService
    svc.update("k", "s", "A1:C4", Seq(
      Seq("h1", "h2", "h3"), Seq("a", "1", "x"), Seq("b", "2", "y"), Seq("c", "3", "z")))
    // interior sub-rectangle
    assert(svc.get("k", "s", "B2:C3") == Seq(Seq("1", "x"), Seq("2", "y")))
    // column-only range keeps all rows, crops columns
    assert(svc.get("k", "s", "B:C") ==
      Seq(Seq("h2", "h3"), Seq("1", "x"), Seq("2", "y"), Seq("3", "z")))
    // single cell
    assert(svc.get("k", "s", "C4") == Seq(Seq("z")))
    // column range with a bottom row bound ("A:B3" = first 3 rows)
    assert(svc.get("k", "s", "A:B3") == Seq(Seq("h1", "h2"), Seq("a", "1"), Seq("b", "2")))
    // range larger than the payload just returns what exists
    assert(svc.get("k", "s", "A1:Z99").map(_.length).toSet == Set(3))
  }

  test("makeDateFilename uses first Date column and an en-dash") {
    val df = Seq("2025-08-01", "2025-08-03", "2025-08-02").toDF("Day")
      .select(col("Day").cast(DateType).as("Day"))
    assert(A1.makeDateFilename("apsl", df) == "apsl_2025-08-01–2025-08-03.csv")
    val noDate = Seq(1, 2).toDF("n")
    intercept[IllegalArgumentException] { A1.makeDateFilename("x", noDate) }
  }

  test("makeDateFilename on an all-null or empty Date column names the column, never _null–null") {
    val allNull = Seq(Option.empty[String], None).toDF("s")
      .select(col("s").cast(DateType).as("Day"), lit(1).as("n"))
    for (df <- Seq(allNull, allNull.filter(lit(false)))) {
      val e = intercept[IllegalArgumentException] { A1.makeDateFilename("apsl", df) }
      assert(e.getMessage.contains("\"Day\""), e.getMessage)
    }
  }

  /** The writer before parallel parts, kept as the reference: the sorted
    * frame coalesced to one partition, written with Spark's own header,
    * the BOM prepended.
    */
  private def referenceCsv(df: DataFrame, orderBy: Seq[Column]): Array[Byte] = {
    val dir = Files.createTempDirectory("graft-sink-ref").resolve("out")
    val ordered = if (orderBy.nonEmpty) df.orderBy(orderBy: _*) else df
    ordered.coalesce(1).write.option("header", "true").option("escape", "\"").csv(dir.toString)
    val part = Using.resource(Files.list(dir))(
      _.iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get)
    Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ Files.readAllBytes(part)
  }

  private def assertSameAsReference(df: DataFrame, orderBy: Seq[Column] = Nil): Unit = {
    val out = Files.createTempDirectory("graft-sink-par").resolve("out.csv")
    Sinks.writeCsvWithBom(df, out.toString, orderBy)
    val got = Files.readAllBytes(out)
    val want = referenceCsv(df, orderBy)
    assert(new String(got, UTF_8) == new String(want, UTF_8))
    assert(got.sameElements(want))
  }

  /** Run `body` with `n` shuffle partitions that AQE keeps apart, so a sort
    * over a few hundred rows still writes `n` parts.
    */
  private def withSortPartitions[T](n: Int)(body: => T): T = {
    val set = Seq("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val before = set.map { case (k, _) => k -> spark.conf.getOption(k) }
    set.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def stageDirs(dir: Path): Seq[String] =
    Using.resource(Files.list(dir))(_.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".csv-stage-")).toSeq)

  test("writeCsvWithBom: a repartitioned frame sorted over 16 partitions matches the 1-partition writer") {
    val df = spark.range(0, 400).repartition(8)
      .select(((col("id") * 7919) % 400).as("k"), concat(lit("row "), col("id")).as("v"))
    withSortPartitions(16) {
      assert(df.orderBy(col("k")).rdd.getNumPartitions > 10)
      assertSameAsReference(df, Seq(col("k")))
    }
  }

  test("writeCsvWithBom: parts past partition 9 and mostly empty partitions add rows in partition order") {
    // 12 partitions of 100 ids each; the filter leaves rows in 3 of them
    val df = spark.range(0, 1200, 1, 12).filter(col("id") % 100 < 2 && col("id") < 1000 && col("id") > 600)
      .select(col("id"), (col("id") * 3).as("x"))
    assert(df.rdd.getNumPartitions == 12)
    assertSameAsReference(df)
    withSortPartitions(16)(assertSameAsReference(df, Seq(desc("id"))))
  }

  test("writeCsvWithBom: a 0-row frame is the BOM and the header alone") {
    val df = Seq((1, "a")).toDF("n", "지출 금액 (KRW)").filter(lit(false))
    assertSameAsReference(df)
    assertSameAsReference(df, Seq(col("n")))
    val out = Files.createTempDirectory("graft-sink-empty").resolve("e.csv")
    Sinks.writeCsvWithBom(df, out.toString, Seq(col("n")))
    assert(new String(Files.readAllBytes(out), UTF_8) == "\uFEFFn,지출 금액 (KRW)\n")
  }

  test("writeCsvWithBom: quoted header names and awkward values match the 1-partition writer") {
    val df = Seq(
      (1, "say \"hi\"", "a,b", "line1\nline2", "2025-08-01", "12.50"),
      (2, "", null, " padded ", null, "-0.01"),
      (3, null, "", "tab\there", "1999-12-31", null),
      (4, "한글 \"인용\"", "x\r\ny", "plain", "2025-01-09", "100000.00")
    ).toDF("k", "q", "c", "nl", "d", "m")
      .select(col("k").as("지출 금액 (KRW)"), col("q").as("a,b"), col("c").as("say \"hi\""),
        col("nl").as("with space"), col("d").cast(DateType).as("rate (%)"),
        col("m").cast("decimal(12,2)").as("Amount"))
    withSortPartitions(3)(assertSameAsReference(df.repartition(2), Seq(col("`지출 금액 (KRW)`"))))
    assertSameAsReference(df, Seq(desc("`지출 금액 (KRW)`")))
  }

  test("writeCsvWithBom orders parts by partition number, not file-name string order") {
    val names = Seq("part-100000-j-c000.csv", "part-99999-j-c000.csv", "part-00002-j-c000.csv")
    assert(names.sortBy(Sinks.partIndex) ==
      Seq("part-00002-j-c000.csv", "part-99999-j-c000.csv", "part-100000-j-c000.csv"))
  }

  test("writeCsvWithBom replaces an existing file and leaves no stage dir, even when the write fails") {
    val dir = Files.createTempDirectory("graft-sink-publish")
    val out = dir.resolve("out.csv")
    Files.write(out, "stale".getBytes(UTF_8))
    Sinks.writeCsvWithBom(Seq((2, "b"), (1, "a")).toDF("n", "s"), out.toString, Seq(col("n")))
    assert(new String(Files.readAllBytes(out), UTF_8) == "\uFEFFn,s\n1,a\n2,b\n")
    assert(stageDirs(dir).isEmpty)

    // under ANSI the cast of "x" raises while the parts are written
    val failing = Seq("1", "x").toDF("s").select(col("s").cast("int").as("n"))
    intercept[Exception](Sinks.writeCsvWithBom(failing, out.toString, Seq(col("n"))))
    assert(new String(Files.readAllBytes(out), UTF_8) == "\uFEFFn,s\n1,a\n2,b\n")
    assert(stageDirs(dir).isEmpty)
  }
}
