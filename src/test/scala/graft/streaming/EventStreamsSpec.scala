package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.{SparkSpec, TestSpark}
import graft.queries.Tables

/** Streaming semantics through a real MemoryStream → memory-sink query:
  * watermark advance, the interval join, content dedup, custom stateful
  * session closing — plus batch/stream equivalence on the testdata.
  */
class EventStreamsSpec extends SparkSpec {

  import EventStreams._

  private def ts(minute: Int): Timestamp = new Timestamp(3600000L * 10 + minute * 60000L)

  test("sessionizeStateful: closes a session only after the gap passes the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val q = sessionizeStateful(mem.toDS(), gapMs = 30 * 60000L).writeStream
      .format("memory").queryName("sess_test").outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 10 min apart (one session), then silence
      mem.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(10), 1, "click", 1.0))
      q.processAllAvailable()
      // push watermark far past user 1's session timeout (2h wm delay + 30m gap)
      mem.addData(Event(3, ts(400), 2, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Event(4, ts(800), 2, "view", 1.0))
      q.processAllAvailable()
      val sessions = spark.table("sess_test")
        .as[Session].collect().filter(_.user_id == 1)
      assert(sessions.toSeq == Seq(Session(1, ts(0), ts(10), 2)))
    } finally q.stop()
  }

  test("clickToPurchase stream-stream interval join attributes within the hour only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val q = clickToPurchase(mem.toDF().withColumnRenamed("event_type", "event_type"))
      .writeStream.format("memory").queryName("attr_test")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Event(1, ts(0), 7, "click", 0.0),
        Event(2, ts(30), 7, "purchase", 9.99),   // within 1h of click 1 → joins
        Event(3, ts(90), 7, "purchase", 5.0),    // 90min after click 1 → no join
        Event(4, ts(30), 8, "purchase", 3.0))    // other user, no click → no join
      q.processAllAvailable()
      val rows = spark.table("attr_test")
        .select("user_id", "purchase_id", "click_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(rows == Set((7L, 2L, 1L)))
    } finally q.stop()
  }

  test("sessionizeStateful survives a straggler whose timeout lands below the eviction watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val q = sessionizeStateful(mem.toDS(), gapMs = 30 * 60000L).writeStream
      .format("memory").queryName("clamp_test").outputMode(OutputMode.Append).start()
    try {
      mem.addData(Event(1, ts(0), 5, "click", 1.0))
      q.processAllAvailable()
      // same batch: a far-future event (jumps the eviction watermark to
      // ts(480)) + a straggler for user 5 at ts(30) — admitted against the
      // PREVIOUS watermark, but its session timeout ts(60) is below the
      // updated eviction watermark: unclamped setTimeoutTimestamp throws
      // and kills the query
      mem.addData(Event(2, ts(600), 6, "view", 1.0), Event(3, ts(30), 5, "click", 1.0))
      q.processAllAvailable()
      // next trigger fires the clamped timeout and closes user 5's session
      mem.addData(Event(4, ts(1200), 6, "view", 1.0))
      q.processAllAvailable()
      val u5 = spark.table("clamp_test").as[Session].collect().filter(_.user_id == 5)
      assert(u5.toSeq == Seq(Session(5, ts(0), ts(30), 2)))
    } finally q.stop()
  }

  test("docDedupStream drops re-posted CONTENT across micro-batches (normalized fingerprint)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val q = docDedupStream(docs).writeStream
      .format("memory").queryName("docdedup_test").outputMode(OutputMode.Append).start()
    try {
      mem.addData((1L, ts(0), "Hello  World"), (2L, ts(1), "unique one"))
      q.processAllAvailable()
      // doc 3 re-posts doc 1's CONTENT (same normalized text, different
      // whitespace/case) inside the watermark horizon → dropped at ingest;
      // doc 4 is fresh content → kept
      mem.addData((3L, ts(2), "hello   world"), (4L, ts(3), "another text"))
      q.processAllAvailable()
      val kept = spark.table("docdedup_test").select("doc_id").as[Long]
        .collect().toSet
      assert(kept == Set(1L, 2L, 4L))
      // batch fallback: first-per-fingerprint dropDuplicates
      val batch = Seq((1L, ts(0), "Hello  World"), (3L, ts(2), "hello world"),
        (2L, ts(1), "unique one")).toDF("doc_id", "ts", "text")
      assert(docDedupStream(batch).count() == 2)
    } finally q.stop()
  }

  test("sessionWindows (built-in session_window) matches stateful session count on batch") {
    import spark.implicits._
    val ev = Tables.events(spark, TestSpark.sf0001)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value").as[Event]
    val builtin = sessionWindows(ev.toDF(), "30 minutes")
      .groupBy("user_id").count().orderBy("user_id")
      .as[(Long, Long)].collect().toSeq
    val oracle = graft.queries.Events.queries("e_sessionize")(spark, TestSpark.sf0001)
      .select("user_id", "n_sessions").as[(Long, Long)].collect().toSeq
    assert(builtin == oracle)
  }

  test("sessionizeStateful == batch session_window on the same cross-batch disordered input") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val mem = MemoryStream[Event]
    val q = sessionizeStateful(mem.toDS(), gapMs = 30 * 60000L).writeStream
      .format("memory").queryName("sess_parity").outputMode(OutputMode.Append).start()
    // one logical history delivered DISORDERED across micro-batches: user 1's
    // first session arrives middle-first, then extends BACKWARDS twice from a
    // later batch; user 2's second session also extends backwards cross-batch
    val batch1 = Seq(
      Event(1, ts(20), 1, "click", 1.0),
      Event(2, ts(0), 2, "view", 1.0))
    val batch2 = Seq(
      Event(3, ts(10), 1, "view", 1.0),
      Event(4, ts(0), 1, "click", 1.0),
      Event(5, ts(120), 2, "view", 1.0))
    val batch3 = Seq(
      Event(6, ts(140), 1, "click", 1.0),
      Event(7, ts(130), 2, "view", 1.0))
    // sentinel pushes the watermark (2 h delay) past every session's timeout
    val sentinel = Event(99, ts(3000), 9, "view", 1.0)
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      mem.addData(batch3: _*); q.processAllAvailable()
      mem.addData(sentinel); q.processAllAvailable()
      val streamed = spark.table("sess_parity").as[Session].collect().toSet
      // the batch mirror is the SAME aggregation e_sessionize's DuckDB
      // oracle validates (gap-30min sessions); session_window's end is
      // last_event + gap, the stateful form reports last_event — align them
      val all = (batch1 ++ batch2 ++ batch3) :+ sentinel
      val batchSessions = sessionWindows(all.toDF(), "30 minutes")
        .select(col("user_id"), col("session_start"),
          expr("session_end - INTERVAL 30 minutes").as("session_end"),
          col("n_events").cast("int").as("n_events"))
        .as[Session].collect().toSet
      // the sentinel's own trailing session is still open in the stream
      assert(streamed == batchSessions.filter(_.user_id != 9L))
      assert(streamed.size == 4, s"expected 4 closed sessions, got $streamed")
    } finally q.stop()
  }

  test("st_sessionize corpus entry: live checkpointed ledger equals the batch gap rewrite") {
    import org.apache.spark.sql.functions._
    val stream = EventStreams.queries("st_sessionize")(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // batch mirror in milliseconds (Timestamp.getTime semantics), the
    // same lag/cumsum rewrite the DuckDB oracle runs
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ms", "event_id")
    val sess = Tables.events(spark, TestSpark.sf0001)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts) div 1000").as("ms"))
      .withColumn("prev", lag("ms", 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("ms") - col("prev") > 12L * 3600 * 1000, 1L)
          .otherwise(0L))
      .withColumn("sid", sum("new_s").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"), (max("ms") - min("ms")).as("dur_ms"))
    val batch = sess
      .groupBy(least(col("n_events"), lit(50)).cast("bigint").as("len_bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        sum("dur_ms").cast("bigint").as("total_dur_ms"),
        min("user_id").as("min_user"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(stream.nonEmpty)
    assert(stream.toSeq == batch.toSeq,
      "stateful stream diverged from the batch sessionization")
    // multi-event sessions exist, i.e. cross-batch state actually carried
    assert(stream.exists(_._1 > 1))
  }

  test("sessionize stream: stop mid-stream, resume from checkpoint — same sessions") {
    // The NearDupStreamSpec kill/restart discipline on the SESSIONIZER:
    // recovery must restore per-user open-session state (start, last, n)
    // and the registered event-time timeouts, so sessions straddling the
    // kill boundary still merge and flush correctly after the restart.
    // Staging is the SAME stageEventSlices body the corpus entry uses.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val gapMs = 12L * 3600 * 1000
    val root = java.nio.file.Files.createTempDirectory("sess-e2e").toFile
    val srcDir = new java.io.File(root, "in"); srcDir.mkdirs()
    val outDir = s"${root.getAbsolutePath}/out"
    val ckDir = s"${root.getAbsolutePath}/ck"
    EventStreams.stageEventSlices(spark, root, srcDir, TestSpark.sf0001, gapMs)
    val schema = spark.read.parquet(srcDir.getAbsolutePath).schema
    import spark.implicits._
    def start(availableNow: Boolean) = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.getAbsolutePath)
      val w = EventStreams.sessionizeStateful(src.as[EventStreams.Event], gapMs)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckDir)
        .outputMode(OutputMode.Append)
      // phase 1 throttles to one file per trigger AND a processing-time
      // interval, so stop() lands after 1-2 committed batches — slices
      // must genuinely remain for the restart to prove recovery on
      (if (availableNow) w.trigger(Trigger.AvailableNow())
       else w.trigger(Trigger.ProcessingTime("5 seconds"))).start()
    }
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      // phase 1: kill at the first committed micro-batch — most slices
      // unread, every open session pending in the state store
      val q1 = start(availableNow = false)
      try {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (!q1.recentProgress.exists(_.numInputRows > 0) &&
            System.nanoTime() < deadline) Thread.sleep(50)
        assert(q1.recentProgress.exists(_.numInputRows > 0),
          "stream made no progress within the deadline")
      } finally q1.stop()
      q1.awaitTermination()
      // GROUND-TRUTH kill accounting (ADVICE r14): recentProgress is
      // posted async by the listener bus, so it can under-report what
      // phase 1 committed — the old rows-based conditional could demand
      // phase-2 progress when nothing was actually left, a flake. The
      // checkpoint's commits log is the truth: one committed batch ==
      // one staged file (maxFilesPerTrigger = 1).
      val stagedFiles = Option(srcDir.listFiles())
        .getOrElse(Array.empty[java.io.File])
        .count(_.getName.endsWith(".parquet"))
      def committedBatches() = Option(
        new java.io.File(ckDir, "commits").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .count(_.getName.forall(_.isDigit))
      val committed1 = committedBatches()
      // phase 2: restart from the SAME checkpoint, drain everything
      val q2 = start(availableNow = true)
      q2.awaitTermination()
      if (committed1 < stagedFiles)
        assert(committedBatches() > committed1,
          "the restart must process the slices the kill left unread")
      // post-restart sessions == the batch gap rewrite, exactly
      val stream = spark.read.parquet(outDir)
        .filter(col("user_id") >= 0)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events").cast("long")).as("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ms", "event_id")
      val batch = Tables.events(spark, TestSpark.sf0001)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts) div 1000").as("ms"))
        .withColumn("prev", lag("ms", 1).over(w2))
        .withColumn("new_s",
          when(col("prev").isNull || col("ms") - col("prev") > gapMs, 1L)
            .otherwise(0L))
        .groupBy("user_id")
        .agg(sum("new_s").as("n_sessions"), count(lit(1)).as("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      assert(stream.toSeq == batch.toSeq,
        "post-restart sessions must equal the batch gap rule")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      graft.util.Dirs.deleteRecursively(root)
    }
  }
}
