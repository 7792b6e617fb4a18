package graft.io

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.CodecStreams
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{DataType, NullType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Input connectors (reference S1–S4, S7 — SURVEY §2.1). */
object Sources {

  /** How every raw CSV export is parsed, by the schema inference and by the
    * scans alike.
    */
  private val CsvOptions: Map[String, String] = Map(
    "header" -> "true",
    // quoted fields may contain newlines (ad names); Polars parses them by
    // default — without this Spark splits them into corrupt rows. Costs
    // file-level splittability, irrelevant for per-file daily exports.
    "multiLine" -> "true",
    // RFC-4180 quote doubling ("" inside quoted fields) — platform CSV
    // exports use it; Spark's default backslash escape mis-parses it
    "escape" -> "\"")

  /** Enumerate a raw directory and read its tabular files as a few
    * DataFrames: one multi-file scan per group of CSV files that share a
    * header and an inferred schema, and one frame per `.xlsx` file (the
    * JDK-only [[Xlsx]] reader, reference S2). Each CSV file's schema is
    * inferred on its own, exactly as a per-file `inferSchema` read would
    * (the equivalent of Polars' per-file `read_csv`), so files with the same
    * header whose values infer differently land in different groups. A
    * plain `spark.read.csv(dir)` would instead merge every file's schema and
    * break source detection. Frames come in file-name order of their first
    * file. Ref `multi_source_ad_etl.py:96-108`.
    */
  def readTabularFiles(spark: SparkSession, rawDir: String): Seq[DataFrame] = {
    val dir = Paths.get(rawDir)
    require(Files.isDirectory(dir), s"Not a directory: $rawDir")
    val files = scala.util.Using.resource(Files.list(dir))(
      _.iterator().asScala.toSeq.sortBy(_.getFileName.toString))
    def lowerName(f: Path) = f.getFileName.toString.toLowerCase
    val csvs = files.filter(lowerName(_).endsWith(".csv"))
    // one scan per group, keyed by its first file (a schema's field names
    // are its file's safe header, so the schema alone is the group key)
    val groupAt = csvs.zip(inferCsvSchemas(spark, csvs)).groupBy(_._2).map { case (schema, members) =>
      members.head._1 -> spark.read.options(CsvOptions).schema(schema).csv(members.map(_._1.toString): _*)
    }
    val dfs = files.flatMap { f =>
      lowerName(f) match {
        case n if n.endsWith(".csv")  => groupAt.get(f)
        case n if n.endsWith(".xlsx") => Some(Xlsx.read(spark, f))
        case _ => None
      }
    }
    if (dfs.isEmpty)
      throw new IllegalArgumentException(
        s"No CSV or XLSX found in directory: $rawDir. File(s) present: " +
          (if (files.isEmpty) "None" else files.map(_.getFileName).mkString(", ")))
    dfs
  }

  /** The schema a per-file `inferSchema` read gives each CSV file, for all
    * files in ONE Spark job. This is Spark's multi-line CSV inference, per
    * file: tokenize the stream (opened through Hadoop's FileSystem, so its
    * read statistics count it), make the first row a safe header, fold every
    * later row through `CSVInferSchema` — every row, the equivalent of
    * Polars' `read_csv(infer_schema_length=None)`. Types are never widened
    * across files. A file with no rows at all has no columns, as in Spark.
    */
  private def inferCsvSchemas(spark: SparkSession, files: Seq[Path]): Seq[StructType] =
    if (files.isEmpty) Nil
    else {
      val session = castToImpl(spark)
      val conf = session.sessionState.conf
      val options = new CSVOptions(CsvOptions + ("inferSchema" -> "true"),
        conf.csvColumnPruning, conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
      val caseSensitive = conf.caseSensitiveAnalysis
      val hadoopConf = new SerializableConfiguration(
        session.sessionState.newHadoopConfWithOptions(options.parameters))
      val paths = files.map(_.toString)
      SQLExecution.withSQLConfPropagated(session) {
        session.sparkContext
          .parallelize(paths, math.min(paths.size, session.sparkContext.defaultParallelism))
          .map(p => inferCsvSchema(hadoopConf.value, p, options, caseSensitive))
          .collect().toSeq
      }
    }

  private def inferCsvSchema(
      conf: Configuration, file: String, options: CSVOptions, caseSensitive: Boolean): StructType = {
    // Spark's `UnivocityParser.tokenizeStream` (package-private), spelled out
    val parser = new CsvParser(options.asParserSettings)
    parser.beginParsing(
      CodecStreams.createInputStreamWithCloseResource(conf, new HadoopPath(file)), options.charset)
    val rows = Iterator.continually(parser.parseNext()).takeWhile(_ != null)
    if (!rows.hasNext) StructType(Nil)
    else {
      val header = CSVUtils.makeSafeHeader(rows.next(), caseSensitive, options)
      val infer = new CSVInferSchema(options)
      def start: Array[DataType] = Array.fill(header.length)(NullType)
      // merged with the zero value, as Spark's `RDD.aggregate` over one file does
      val types = infer.mergeRowTypes(start, rows.foldLeft(start)(infer.inferRowType))
      StructType(infer.toStructFields(types, header))
    }
  }

  /** Build an all-String, row-oriented DataFrame from an in-memory
    * header + rows payload — the Sheets-ingest shape (reference S4/S7,
    * `google_cloud_client.py:87-89`).
    */
  def fromRows(spark: SparkSession, header: Seq[String], rows: Seq[Seq[String]]): DataFrame = {
    val schema = StructType(header.map(StructField(_, StringType, nullable = true)))
    val data = rows.map(r => Row.fromSeq(r)).asJava
    spark.createDataFrame(data, schema)
  }
}
