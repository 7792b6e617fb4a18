package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DateType

import graft.etl.{EtlConfig, Configs, MultiSourceAdEtl, PipelineRunner}
import graft.etl.PipelineRunner.{ExportResult, SheetTarget}
import graft.io.Sinks
import graft.util.A1

/** One ETL workload: a pipeline config and the generator of its raw exports. */
final case class Workload(
    name: String,
    config: EtlConfig,
    capitalize: Boolean,
    prefix: String,
    inputSize: String,
    generate: (Path, Long) => Expected)

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("etl_many_files", Configs.apsl, capitalize = true, "apsl",
      "40 apsl exports across 5 sources, 6400 data rows split 20+ per file",
      (dir, seed) => Gen.manyFiles(dir, seed, files = 40, rows = 6400)),
    Workload("etl_large_files", Configs.likeEat, capitalize = true, "like_eat",
      "4 like_eat exports of 100000 rows (2 Meta_naver, 2 Naver_GFA)",
      (dir, seed) => Gen.largeFiles(dir, seed, rowsPerFile = 100000)))
}

/** Runs one workload in this JVM and prints its result as the last line of
  * standard output. Untraced (`--trace 0`): set up, then time whole
  * `PipelineRunner.runAndExport` calls for `--seconds`, and report the
  * end-to-end metrics. Traced (`--trace 1`): time untraced calls for half
  * the window, then run the same pipeline split into its public steps, each
  * wrapped in a span, for the other half, and report the per-layer metrics.
  * Every run is checked against the generator's expectation.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")))
  }

  /** The length one timed run is assumed to take, for both workloads. */
  val NominalRunS = 10.0

  /** Untimed runs before the timed window: the first pays class loading and
    * compilation, and the second is still 10-25 % slower than the third.
    */
  val Warmups = 2

  private val SheetKey = "perfbench"
  private val SheetName = "report"

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = parse(args)
    val w = Workload.all.find(_.name == o.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${o.workload}; known: " +
        Workload.all.map(_.name).mkString(", ")))
    val heap = new HeapPeak
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failedOps = 0

    val t0 = System.nanoTime()
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secondsSince(t0)

    try {
      val header = w.config.standardSchema.fieldNames.toSeq
      val dateCol = w.config.standardSchema.fields.find(_.dataType == DateType).get.name
      val orderBy: Seq[Column] = Seq(col("Source"), col(s"`$dateCol`"))
      val raw = o.work.resolve("raw")
      val processed = o.work.resolve("processed")

      // generation runs three times into a fresh directory; its median counts
      val gens = (1 to 3).map { _ =>
        deleteTree(o.work)
        Files.createDirectories(raw)
        val g0 = System.nanoTime()
        val e = w.generate(raw, o.seed)
        (secondsSince(g0), e)
      }
      val exp = gens.last._2
      require(gens.forall(_._2 == exp), "generator is not deterministic")
      val genS = median(gens.map(_._1))

      /** One whole pipeline run, its outputs then checked in full outside
        * its wall time; returns that wall time, or None if the run failed.
        */
      def iteration(run: Sinks.InMemorySheetService => ExportResult): Option[Double] = {
        attempted += 1
        val svc = new Sinks.InMemorySheetService
        val i0 = System.nanoTime()
        val result = try Right(run(svc)) catch { case e: Exception => Left(e) }
        val s = secondsSince(i0)
        val problems = result match {
          case Left(e) =>
            e.printStackTrace()
            Seq(s"pipeline failed: $e")
          case Right(res) =>
            try {
              Check.quick(res, exp, w.prefix) ++ Check.csv(res.csvPath, header, exp) ++
                Check.sheet(svc, SheetKey, SheetName, header, exp)
            } catch { case e: Exception => Seq(s"output check failed: $e") }
        }
        heap.afterIteration()
        java.lang.ref.Reference.reachabilityFence(svc)
        problems.foreach(p => System.err.println(s"[perfbench] iteration $attempted: $p"))
        failures ++= problems.map(p => s"iteration $attempted: $p")
        if (problems.nonEmpty) failedOps += 1
        Option.when(problems.isEmpty)(s)
      }

      def untraced(svc: Sinks.InMemorySheetService): ExportResult =
        PipelineRunner.runAndExport(spark, w.config, raw.toString, w.capitalize,
          processed.toString, w.prefix, orderBy, svc, Seq(SheetTarget(SheetKey, SheetName)))

      /** Timed runs filling about `secs`, counted in nominal run lengths
        * rather than by the clock, so every commit gets the same schedule.
        */
      def timed(secs: Double)(run: Sinks.InMemorySheetService => ExportResult): Seq[Double] =
        Seq.fill(math.max(1, math.round(secs / NominalRunS).toInt))(iteration(run)).flatten

      val warm = (1 to Warmups).map { _ =>
        val w0 = System.nanoTime()
        iteration(untraced).getOrElse(secondsSince(w0))
      }
      val warmS = warm.sum
      val setupS = sessionS + genS + warmS

      val host = new HostWindow
      heap.recording = true
      val runs = timed(if (o.trace) o.seconds / 2 else o.seconds)(untraced)
      heap.recording = false
      val hostFields = host.close(runs)

      val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
      val extra = mutable.LinkedHashMap.empty[String, String]
      val runS = median(runs)
      extra("run_samples") = runs.size.toString
      extra("run_s_all") = runs.map(fmt).mkString("[", ",", "]")
      extra("input_size") = Json.str(w.inputSize)
      extra("input_rows") = exp.rowsIn.toString
      extra("input_bytes") = exp.fileBytes.toString
      extra("setup_parts") = s"""{"session_s":${fmt(sessionS)},"gen_s":${fmt(genS)},"warm_s":${fmt(warmS)}}"""
      extra ++= hostFields

      if (!o.trace) {
        metrics("setup_s") = (setupS, "s")
        metrics("run_s") = (runS, "s")
        metrics("input_rows_per_s") = (exp.rowsIn / runS, "rows/s")
        metrics("heap_peak_mb") = (heap.peakMb, "MB")
      } else {
        val tr = new TracedRuns(spark, w, raw.toString, processed.toString, orderBy, exp)
        val tracedRuns = timed(o.seconds / 2)(svc => tr.run(svc, SheetKey, SheetName))
        tr.tracer.drain()
        tr.tracer.stop()
        if (tr.tracer.unattributedJobs > 0)
          failures += s"${tr.tracer.unattributedJobs} Spark jobs ran outside any span"
        val layer = tr.layerMetrics(tracedRuns, runS)
        metrics ++= layer.metrics
        extra ++= layer.extra
        failures ++= layer.problems
      }
      if (runs.isEmpty)
        failures += "no successful timed run"
      extra("failed_frac") = fmt(failedOps.toDouble / attempted)
      emit(o, attempted, failedOps, failures.toSeq, metrics, extra)
    } finally spark.stop()
  }

  def emit(o: Opts, attempted: Int, failed: Int, failures: Seq[String],
      metrics: collection.Map[String, (Double, String)], extra: collection.Map[String, String]): Unit = {
    val m = metrics.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${fmt(v)},\"unit\":${Json.str(u)}}" }
      .mkString("{", ",", "}")
    val line = s"""{"correct":${failures.isEmpty},"attempted":$attempted,"failed":$failed,"metrics":$m}"""
    val detail = (Seq("workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "trace" -> o.trace.toString, "failures" -> failures.map(Json.str).mkString("[", ",", "]")) ++
      extra.toSeq).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    Files.createDirectories(o.out.getParent)
    Files.write(o.out, s"""{"result":$line,"detail":$detail}""".getBytes(StandardCharsets.UTF_8))
    println(line)
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(
        _.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)))
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Peak JVM heap over the timed window, read after a full collection
  * forced at the end of each timed run while that run's outputs (the sheet
  * payload) are still held: the live heap a run leaves behind, not the
  * garbage it happened to have pending.
  */
final class HeapPeak {
  var recording = false
  private var peak = 0L

  def afterIteration(): Unit = {
    System.gc()
    if (recording) peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Host state over the timed window: processors, load, CPU steal. */
final class HostWindow {
  private def stealTotal(): Option[(Long, Long)] =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val cpu = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        Some((cpu.lift(7).getOrElse(0L), cpu.sum))
      } finally f.close()
    } catch { case _: Exception => None }

  private val start = stealTotal()

  /** The host fields of the result file, given the window's timed runs.
    * Drift: the host took CPU from the run, or the runs disagree widely.
    */
  def close(runs: Seq[Double]): Seq[(String, String)] = {
    val steal = (for ((s0, t0) <- start; (s1, t1) <- stealTotal() if t1 > t0)
      yield (s1 - s0) * 100.0 / (t1 - t0)).getOrElse(-1.0)
    val spread = if (runs.size < 2) 1.0 else runs.max / runs.min
    Seq("nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "load1" -> Main.fmt(ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage),
      "steal_pct" -> Main.fmt(steal),
      "host_drift" -> (steal >= 0.5 || spread > 1.25).toString)
  }
}

/** The traced run: `PipelineRunner.runAndExport` split into the public
  * calls it makes, in the same order, each wrapped in a span.
  */
final class TracedRuns(spark: SparkSession, w: Workload, raw: String, processed: String,
    orderBy: Seq[Column], exp: Expected) {
  val tracer = new Tracer(spark)
  private val iterations = mutable.ArrayBuffer.empty[Int]
  private var planNodes = 0L
  private var lastResult: Option[ExportResult] = None

  def run(svc: Sinks.InMemorySheetService, key: String, name: String): ExportResult = {
    val it = tracer.newIteration()
    iterations += it
    tracer.span("iteration") {
      val etl = new MultiSourceAdEtl(w.config)
      val read = tracer.span("sources.read")(etl.readTabularFiles(spark, raw))
      val named = tracer.span("etl.capitalize")(if (w.capitalize) etl.capitalizeColNames(read) else read)
      val sourced = tracer.span("etl.assign_source")(etl.assignSource(named))
      val cleaned = tracer.span("etl.clean")(etl.cleanDataFrames(sourced))
      val standard = tracer.span("etl.standardize")(etl.standardizeDataFrames(cleaned))
      val merged = tracer.span("etl.merge")(etl.merge(standard))
      planNodes = merged.queryExecution.analyzed.collect { case p => p }.size.toLong
      val rowCount = tracer.span("runner.persist_count") { merged.persist(); merged.count() }
      try {
        if (rowCount == 0) throw new IllegalStateException("pipeline produced 0 rows")
        val fileName = tracer.span("runner.filename")(A1.makeDateFilename(w.prefix, merged))
        val csvPath = Paths.get(processed, fileName).toString
        tracer.span("sinks.csv_write")(Sinks.writeCsvWithBom(merged, csvPath, orderBy))
        val (header, rows) = tracer.span("sinks.sheet_collect")(Sinks.collectSheetPayload(merged, orderBy))
        tracer.span("sinks.upload")(Sinks.uploadPayload(svc, header, rows, key, name))
        lastResult = Some(ExportResult(csvPath, rowCount, Seq(SheetTarget(key, name))))
        lastResult.get
      } finally tracer.span("runner.unpersist")(merged.unpersist())
    }
  }

  /** Spans whose Spark work is reported per span. */
  val sparkSpans = Seq("sources.read", "runner.persist_count", "runner.filename",
    "sinks.csv_write", "sinks.sheet_collect")

  val timedSpans = Seq("sources.read", "etl.capitalize", "etl.assign_source", "etl.clean",
    "etl.standardize", "etl.merge", "runner.persist_count", "runner.filename",
    "sinks.csv_write", "sinks.sheet_collect", "sinks.upload", "runner.unpersist")

  /** Call after the last traced run, with the tracer drained and stopped. */
  def layerMetrics(tracedRuns: Seq[Double], untracedRunS: Double): TracedRuns.Layer = {
    val spans = tracer.spans
    def idx(it: Int, name: String) = spans.indices.find(i => spans(i).iter == it && spans(i).name == name)
    def selfMedian(name: String) =
      Main.median(iterations.toSeq.flatMap(idx(_, name)).map(tracer.selfSeconds))
    val last = iterations.last
    def counts(name: String) = idx(last, name).map(tracer.sparkCounts).getOrElse(new SparkCounts)

    val self = timedSpans.map(n => n -> selfMedian(n))
    val rootSelf = selfMedian("iteration")
    val tracedS = Main.median(tracedRuns)
    val bytesRead = spans.filter(sp => sp.iter == last && sp.parent == -1).map(_.fileBytesRead).sum
    // exact row counts: every raw file, counted outside the timed window,
    // and the output of the last traced run
    val rowsIn = new MultiSourceAdEtl(w.config).readTabularFiles(spark, raw).map(_.count()).sum
    val rowsOut = lastResult.map(_.rowCount).getOrElse(0L)
    val csvBytes = lastResult.map(r => Files.size(Paths.get(r.csvPath))).getOrElse(0L)

    val m = mutable.ArrayBuffer.empty[(String, (Double, String))]
    def s(n: String) = self.find(_._1 == n).get._2
    m += "sources.read_s" -> (s("sources.read"), "s")
    m += "sources.jobs" -> (counts("sources.read").jobs.toDouble, "count")
    m += "sources.files" -> (exp.files.toDouble, "count")
    m += "sources.bytes_read_per_file_byte" -> (bytesRead.toDouble / exp.fileBytes, "ratio")
    Seq("capitalize", "assign_source", "clean", "standardize", "merge").foreach { n =>
      m += s"etl.${n}_s" -> (s(s"etl.$n"), "s")
    }
    m += "etl.plan_nodes" -> (planNodes.toDouble, "count")
    m += "etl.plan_ms" -> (idx(last, "runner.persist_count").map(tracer.planMs).getOrElse(0L).toDouble, "ms")
    m += "etl.rows_in" -> (rowsIn.toDouble, "count")
    m += "etl.rows_out" -> (rowsOut.toDouble, "count")
    m += "etl.rows_removed" -> ((rowsIn - rowsOut).toDouble, "count")
    m += "runner.persist_count_s" -> (s("runner.persist_count"), "s")
    m += "runner.filename_s" -> (s("runner.filename"), "s")
    m += "runner.unpersist_s" -> (s("runner.unpersist"), "s")
    m += "sinks.csv_write_s" -> (s("sinks.csv_write"), "s")
    m += "sinks.csv_bytes" -> (csvBytes.toDouble, "bytes")
    m += "sinks.sheet_collect_s" -> (s("sinks.sheet_collect"), "s")
    m += "sinks.upload_s" -> (s("sinks.upload"), "s")
    sparkSpans.foreach { n =>
      val c = counts(n)
      m += s"spark.$n.jobs" -> (c.jobs.toDouble, "count")
      m += s"spark.$n.tasks" -> (c.tasks.toDouble, "count")
      m += s"spark.$n.shuffle_bytes" -> (c.shuffleBytes.toDouble, "bytes")
      m += s"spark.$n.spill_bytes" -> (c.spillBytes.toDouble, "bytes")
    }
    m += "trace.run_s" -> (tracedS, "s")
    m += "trace.untraced_run_s" -> (untracedRunS, "s")
    m += "trace.overhead_s" -> (tracedS - untracedRunS, "s")
    m += "trace.gap_s" -> (rootSelf, "s")

    val dominant = self.maxBy(_._2)
    val extra = Seq(
      "dominant_layer" -> Json.str(dominant._1),
      "dominant_share" -> Main.fmt(dominant._2 / tracedS),
      "traced_samples" -> tracedRuns.size.toString,
      "file_bytes_read_by_span" -> timedSpans.map(n =>
        s"${Json.str(n)}:${idx(last, n).map(spans(_).fileBytesRead).getOrElse(0L)}")
        .mkString("{", ",", "}"),
      "self_s" -> self.map { case (n, v) => s"${Json.str(n)}:${Main.fmt(v)}" }.mkString("{", ",", "}"),
      "spans" -> spans.map(sp =>
        s"""{"name":${Json.str(sp.name)},"parent":${sp.parent},"iter":${sp.iter},""" +
          s""""start_ns":${sp.startNs},"end_ns":${sp.endNs}}""").mkString("[", ",", "]"))
    val problems = Seq(
      Option.when(rowsIn != exp.rowsIn)(s"raw rows $rowsIn != generated ${exp.rowsIn}"),
      Option.when(rowsIn - rowsOut != exp.rowsRemoved)(
        s"removed rows ${rowsIn - rowsOut} != generated ${exp.rowsRemoved}")).flatten
    TracedRuns.Layer(m.toSeq, extra, problems)
  }
}

object TracedRuns {
  final case class Layer(metrics: Seq[(String, (Double, String))], extra: Seq[(String, String)],
      problems: Seq[String])
}
