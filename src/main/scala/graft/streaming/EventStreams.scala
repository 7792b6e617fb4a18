package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.queries.Tables.{dupsSql, minhashPairCtesSql, normTextSql}

/** Structured-Streaming forms of the `graft.queries.Events` and document
  * dedup operators, each working under `readStream` (incremental,
  * watermarked state) and `read` (batch):
  * - [[sessionWindows]]: built-in gap sessions per user — the batch
  *   referee of [[sessionizeStateful]], the custom-state sessionizer
  *   (streaming-only, see its doc);
  * - [[clickToPurchase]]: the watermarked stream-stream interval join
  *   (its batch form backs the `e_*` attribution entries);
  * - [[docDedupStream]] and [[ingestDocsToShards]]: content dedup and the
  *   exactly-once ingest into the TrainingShards layout;
  * - [[nearDupDropStream]]: LSH near-dup dedup over closing band buckets;
  * - the oracled `st_*` ledger entries over those streams.
  * The events inputs have the `events` schema (event_id long,
  * ts timestamp, user_id long, event_type string, value double,
  * props string).
  *
  * Scale notes: watermarks bound the state; the grouping keys
  * (session_window×user, fingerprint, band bucket) shuffle once; state
  * lives in the state store partitioned by key — the same layout a
  * 1000-executor cluster uses.
  *
  * The `st_*` corpus entries stage their input tree once per corpus per
  * JVM through `graft.util.Dirs.staged` (the tree is a pure function of
  * corpus and entry, so every rep reuses it), and run the stream's
  * checkpoint and output in nonce dirs, so each invocation still measures
  * a full re-ingest. `Dirs` owns where those trees live and when they die.
  */
object EventStreams {

  /** State-partition count of the three corpus ledger streams
    * (`st_ingest_shards`, `st_neardup_ingest`, `st_sessionize`), fixed at
    * query start from `spark.sql.shuffle.partitions`. Their state is
    * KB-scale (bounded by the watermark horizon, not the corpus), and every
    * micro-batch commits one state-store delta + WAL entry PER PARTITION —
    * pure fixed cost at this state volume (probe: ~55-70 ms commit per
    * instance per batch at 8). A real deployment sizes state partitions to
    * its own state VOLUME; the public stream builders take the session's
    * width and never see this one.
    */
  private val StatePartitions = 2

  /** Runs `body` with `spark.sql.shuffle.partitions` set to
    * [[StatePartitions]] — the state-partition count a stream fixes at
    * query start — and restores the previous value on every exit path,
    * including a throw. Only the corpus ledger entries run inside it. The
    * scope is intra-process only: queries in one Verify/Bench session run
    * sequentially, and a concurrent run is a separate JVM with its own
    * SparkSession (no shared conf to race).
    */
  private def withStatePartitions[T](s: org.apache.spark.sql.SparkSession)(
      body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Built-in session windows: gap-based sessions per user. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** Stream-stream interval join: purchases attributed to the same user's
    * clicks within the preceding hour. Both sides are watermarked and the
    * join condition bounds the time range, so each side's buffered state is
    * evictable — the canonical watermarked interval-join shape.
    */
  def clickToPurchase(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** Streaming mirror of the DOCUMENT exact-dedup family (d_exact_dedup):
    * live-ingest content dedup. Each arriving doc is fingerprinted with the
    * SAME draw the batch query and its DuckDB oracle share (md5 of the
    * whitespace-normalized lowercased text) and first-arrival-deduplicated
    * on that fingerprint via `dropDuplicatesWithinWatermark` — a re-crawl
    * or re-post whose content already arrived inside the watermark horizon
    * is dropped at ingest. State is bounded by the watermark (fingerprints
    * older than 2 h are evicted), NOT by corpus size — the property that
    * makes content dedup runnable on an unbounded crawl stream; exact
    * global dedup across horizons remains the batch query's job.
    * Input schema: (doc_id long, ts timestamp, text string, ...); output
    * adds the `fp` column so downstream stages can group on it. In batch,
    * falls back to first-per-fingerprint dropDuplicates for the parity
    * check (its deterministic, ORDERED batch mirror — arrival order stood
    * in by doc_id — is the oracled `d_stream_dedup_mirror` query).
    */
  def docDedupStream(docs: DataFrame): DataFrame = {
    val fp = docs.withColumn("fp",
      md5(graft.queries.Text.normText(col("text"))))
    if (fp.isStreaming)
      fp.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark("fp")
    else fp.dropDuplicates("fp")
  }

  /** End-to-end exactly-once ingest: watched-directory file source →
    * content dedup ([[docDedupStream]], watermark-bounded fingerprint
    * state) → deterministic shard assignment
    * ([[graft.io.TrainingShards.assignShardReplayable]] — md5-48, never an
    * RNG) → the TrainingShards Hive layout (`shard=<k>/part-*.parquet`)
    * under a checkpointed `DataStreamWriter`. Exactly-once across kill/restart
    * comes from the two standard mechanisms composed: the checkpoint
    * replays the source offsets + dedup state, and the parquet file
    * sink's `_spark_metadata` manifest makes replayed batches idempotent
    * (a reader going through Spark sees only committed files). The schema
    * is REQUIRED — at 100 TB inference is a full extra pass, so it is
    * never implicit.
    *
    * Scale notes: the only shuffle-free narrow chain is per-file map work
    * (fingerprint, shard id); dedup state shuffles once on `fp` and is
    * evicted by the 2 h watermark, so state tracks the ingest HORIZON,
    * not the corpus. Each micro-batch reads one file.
    */
  def ingestDocsToShards(
      spark: org.apache.spark.sql.SparkSession,
      srcDir: String,
      schema: org.apache.spark.sql.types.StructType,
      outDir: String,
      checkpointDir: String,
      nShards: Int,
      availableNow: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery = {
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val w = docDedupStream(src)
      .withColumn("shard",
        graft.io.TrainingShards.assignShardReplayable(col("fp"), nShards))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("shard")
      .outputMode(OutputMode.Append)
    // AvailableNow: drain everything present (still one file per
    // micro-batch) and terminate — the batch-mode
    // invocation the oracled corpus entry uses
    (if (availableNow)
       w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else w).start()
  }

  // ---- custom state: flatMapGroupsWithState sessionization ----

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int)

  /** Custom stateful sessionization (the `flatMapGroupsWithState` extension
    * point): closes a user's session when no event arrives within `gapMs`
    * of the last one (event time). Emits closed sessions; open sessions
    * stay in state until the watermark passes their timeout.
    *
    * STREAMING-ONLY: batch execution never fires timeouts, so each user's
    * trailing open session would stay in (discarded) state — use
    * [[sessionWindows]] (built-in `session_window`) for batch semantics.
    *
    * Out-of-order events that slip past the late-row filter (admitted
    * against the previous watermark) are handled explicitly: an event
    * inside or gap-adjacent to the open session extends it (possibly
    * backwards); one older than `start - gapMs` is emitted as its own
    * immediately-closed session rather than corrupting the open one.
    */
  def sessionizeStateful(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._

    def fn(userId: Long, batch: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var out = Vector.empty[Session]
      var st = state.getOption
      if (sorted.isEmpty) {
        if (state.hasTimedOut) {
          st.foreach(s => out :+= Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n))
          state.remove()
        }
      } else {
        for (e <- sorted) {
          val t = e.ts.getTime
          st match {
            case Some(s) if t >= s.start - gapMs && t - s.last <= gapMs =>
              // in or adjacent to the open session (t may be a straggler
              // before s.start: extend backwards rather than miscount)
              st = Some(SessionState(math.min(s.start, t), math.max(s.last, t), s.n + 1))
            case Some(s) if t < s.start - gapMs =>
              // straggler older than the open session entirely: its own
              // session, already closed by the events we hold in state
              out :+= Session(userId, new Timestamp(t), new Timestamp(t), 1)
            case Some(s) =>
              out :+= Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n)
              st = Some(SessionState(t, t, 1))
            case None =>
              st = Some(SessionState(t, t, 1))
          }
        }
        st.foreach { s =>
          state.update(s)
          // the eviction watermark may already be past last+gap (timeouts
          // below the current watermark throw) — clamp so the session
          // closes on the next trigger instead of crashing the query
          state.setTimeoutTimestamp(math.max(s.last + gapMs, state.getCurrentWatermarkMs + 1))
        }
      }
      out.iterator
    }

    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)(
        Encoders.product[SessionState], Encoders.product[Session])
  }

  // ---- custom state: streaming NEAR-dup dedup (LSH band buckets) ----

  final case class BandedDoc(band: Int, m0: Long, m1: Long, m2: Long,
      m3: Long, doc_id: Long, ts: Timestamp, mh: Seq[Long])
  final case class BucketState(ids: Seq[Long], sigs: Seq[Seq[Long]],
      maxTs: Long)
  final case class NearDupDrop(doc_id: Long)

  /** Streaming NEAR-duplicate detection — the LSH extension of
    * [[docDedupStream]]'s exact content dedup: each arriving document is
    * minhash-signed (the same native single-pass expression and md5-48 +
    * splitmix-XOR family the batch `d_minhash_lsh` hash-oracles), banded,
    * and accumulated into per-(band, 4-member-signature) bucket state;
    * when the watermark passes a bucket's event-time horizon the bucket
    * CLOSES and emits the ids it votes to drop. The drop rule is
    * ORDER-INDEPENDENT by design: drop doc B iff some bucket holds a doc
    * A with a smaller id and ≥ 12/16 equal minhash members (est-Jaccard
    * ≥ 0.75 ≥ the 0.7 batch threshold — 11/16 = 0.6875 is below it, so
    * the two rules coincide exactly). Because the verdict is a pure
    * function of the bucket's final membership, nondeterministic
    * micro-batch arrival cannot move the output — the same
    * keep-choice-invariance device that made `st_ingest_shards`
    * oracle-able, applied to the harder near-dup case (where the kept
    * doc's identity is NOT content-invariant, so first-arrival-wins
    * would be unreplayable).
    *
    * Scale notes: state is bucket membership WITHIN THE WATERMARK
    * HORIZON (ids + 16-long signatures), evicted at event-time timeout —
    * it tracks the ingest horizon, not the corpus. The close-time
    * verdict is O(m²) per m-member bucket, the same cost class as the
    * batch band join's bucket-local pair space; real crawl dup groups
    * are power-law-bounded (and the ScaleUp `perturb` corpus models
    * exactly that). A doc dropped in ANY of its 4 buckets is dropped —
    * emissions across buckets are deduplicated downstream (the sink
    * aggregate is on DISTINCT ids).
    *
    * In batch, falls back to the same rule computed from the oracled
    * pair listing: distinct greater-side ids of `minhashPairsOf` pairs.
    */
  def nearDupDropStream(docs: DataFrame): Dataset[NearDupDrop] = {
    val s = docs.sparkSession
    import s.implicits._
    if (!docs.isStreaming) {
      return graft.queries.Dedup
        .minhashPairsOf(docs.filter(col("doc_id") >= 0)
          .select(col("doc_id"), col("text")))
        .select(col("id_b").as("doc_id")).distinct().as[NearDupDrop]
    }
    // Contract: the CALLER applies `withWatermark("ts", …)`; analysis
    // fails loudly if none is set. Rows with doc_id < 0 are WATERMARK
    // SENTINELS: they flow through banding (so their event times advance
    // the watermark that closes buckets) but are excluded from bucket
    // MEMBERSHIP below, so they can never cause or suffer a drop. They
    // must not be removed by a filter instead: a `doc_id >= 0` predicate
    // pushes through the watermark node all the way into the parquet
    // scan, whose row-group stats prune the whole sentinel file — the
    // row then never reaches the watermark operator and no bucket ever
    // closes (measured: watermark pinned at t0 − delay, zero drops).
    val bands = 4
    val rows = 4
    val banded = docs
      .select(col("doc_id"), col("ts"),
        graft.functions.GraftFunctions.minhashSigs(col("text"), 5, bands * rows).as("mh"))
      .select(col("doc_id"), col("ts"), col("mh"), posexplode(
        array((0 until bands).map(b =>
          struct((0 until rows).map(r =>
            col("mh")(b * rows + r).as(s"m$r")): _*)): _*)
      ).as(Seq("band", "bsig")))
      .select(col("band"), col("bsig.m0").as("m0"), col("bsig.m1").as("m1"),
        col("bsig.m2").as("m2"), col("bsig.m3").as("m3"),
        col("doc_id"), col("ts"), col("mh"))
      .as[BandedDoc]

    def fn(key: (Int, Long, Long, Long, Long), batch: Iterator[BandedDoc],
        state: GroupState[BucketState]): Iterator[NearDupDrop] = {
      if (!batch.hasNext) {
        if (state.hasTimedOut) {
          val st = state.getOption.getOrElse(BucketState(Nil, Nil, 0L))
          state.remove()
          // bucket CLOSED: emit the ids having a smaller similar member.
          // Membership is sorted by id so each id compares only against
          // strictly smaller ones; ≥12/16 equal members = similar.
          val members = st.ids.zip(st.sigs).sortBy(_._1)
          val drops = for {
            j <- members.indices
            if (0 until j).exists { i =>
              val (sa, sb) = (members(i)._2, members(j)._2)
              var eq = 0
              var x = 0
              while (x < sa.length) { if (sa(x) == sb(x)) eq += 1; x += 1 }
              eq >= 12
            }
          } yield NearDupDrop(members(j)._1)
          drops.iterator
        } else Iterator.empty
      } else {
        val prior = state.getOption.getOrElse(BucketState(Nil, Nil, 0L))
        val seen = prior.ids.toSet
        var ids = prior.ids
        var sigs = prior.sigs
        // the bucket's LIFETIME max event time, carried in state: a later
        // batch of late-but-valid rows must not pull the close time
        // earlier than a previously registered horizon (timeouts are
        // overwritten on every invocation, so recomputing from the
        // current batch alone would re-open that window)
        var maxTs = prior.maxTs
        for (b <- batch) {
          // negative ids are watermark sentinels (see above): they tick
          // maxTs but never become members
          if (b.doc_id >= 0 && !seen.contains(b.doc_id) && !ids.contains(b.doc_id)) {
            ids :+= b.doc_id
            sigs :+= b.mh
          }
          maxTs = math.max(maxTs, b.ts.getTime)
        }
        state.update(BucketState(ids, sigs, maxTs))
        // close one watermark-delay past the bucket's newest event; clamp
        // above the current watermark (the sessionizeStateful lesson)
        state.setTimeoutTimestamp(
          math.max(maxTs, state.getCurrentWatermarkMs + 1))
        Iterator.empty
      }
    }

    banded
      .groupByKey(b => (b.band, b.m0, b.m1, b.m2, b.m3))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)(
        Encoders.product[BucketState], Encoders.product[NearDupDrop])
  }

  // ---- oracled corpus entry over the ingest pipeline's OUTPUT ----

  /** `st_ingest_shards`: the END-TO-END streaming ingest as a corpus
    * query — stage the dup corpus as parquet files, run the REAL
    * checkpointed [[ingestDocsToShards]] DataStreamWriter over them
    * (AvailableNow trigger, 4 micro-batches), then read the committed
    * shard tree back through its `_spark_metadata` manifest and histogram
    * docs per shard. The histogram is keep-choice-invariant (the shard
    * key IS the content fingerprint, so WHICH duplicate the stream kept
    * cannot move a count), which is what makes a streaming pipeline with
    * nondeterministic micro-batch arrival exactly DuckDB-oracle-checkable.
    * Placement uses [[graft.io.TrainingShards.assignShardReplayable]]
    * (md5-48) so the oracle replays it. Ingest ts is a constant — every
    * row inside one watermark horizon, so no file-arrival order can make a
    * row "late" and drop it (determinism across reruns). The staged INPUT tree is cached per
    * corpus per JVM (Dirs.staged); checkpoint/output dirs are wiped per
    * invocation, so the query measures a FULL re-ingest, not checkpoint
    * recovery (that path is IngestPipelineSpec's kill/restart proof).
    */
  private def ingestShardsHistogram(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val nShards = 7
    // Nonce-keyed work dir: two driver rounds benching the same corpus
    // concurrently (a documented scenario) must never wipe each other's
    // checkpoint mid-stream — a corpus-path-keyed dir did exactly that.
    // withNonceDir deletes the tree on every exit path, after the
    // bounded histogram extract; every invocation measures a FULL
    // re-ingest
    // (checkpoint recovery is IngestPipelineSpec's kill/restart proof).
    graft.util.Dirs.withNonceDir("graft_ingest_") { root =>
      // staged input reused across invocations (Dirs.staged); out/ck
      // stay nonce-fresh so every invocation measures a full re-ingest
      val srcDir = graft.util.Dirs.staged(d, "ingest") { dir =>
        graft.queries.Dedup.corpusWithDups(s, d)
          .select(col("doc_id"),
            timestamp_seconds(lit(1700000000L)).as("ts"), col("text"))
          .repartition(4).write.mode("overwrite").parquet(dir.getAbsolutePath)
      }.getAbsolutePath
      val outDir = s"${root.getAbsolutePath}/out"
      val ckDir = s"${root.getAbsolutePath}/ck"
      val schema = s.read.parquet(srcDir).schema
      // Scope the stream to the state-partition width: each micro-batch
      // commits one state-store delta + up to nShards sink files PER
      // partition — at 32 that is 4 batches x 32 commits of per-partition
      // KB-scale state, pure fixed overhead. The histogram is
      // partition-count-invariant, and a real deployment sizes state
      // partitions to state volume anyway (not a test shortcut). The
      // checkpoint dir is nonce-fresh, so the persisted count can never
      // clash.
      withStatePartitions(s) {
        ingestDocsToShards(s, srcDir, schema, outDir, ckDir, nShards,
          availableNow = true)
          .awaitTermination()
      }
      // bounded extract (≤ nShards rows) so the nonce dir can be removed
      // before returning instead of accumulating one tree per invocation
      val hist = s.read.parquet(outDir)
        .groupBy(col("shard").cast("bigint").as("shard"))
        .agg(count(lit(1)).as("n_docs"), min("fp").as("min_fp"))
        .orderBy("shard")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toIndexedSeq
      import s.implicits._
      hist.toDF("shard", "n_docs", "min_fp")
    }
  }

  /** Stage watermark SENTINELS: single LAST-MODIFIED files directly
    * under the source dir (the file source does not recurse into
    * non-partition subdirectories), one per offset. Their late event
    * times advance the watermark past t0 so bucket timeouts become
    * eligible; the closures then fire in the sentinel batch or the
    * trailing no-data micro-batch AvailableNow schedules once the
    * watermark moves (measured both ways; a missing trailing batch
    * would fail the oracle loudly, not silently). ONE body for the
    * corpus query and the kill/restart spec — the sentinel scheme
    * (offsets, mtime ordering, negative-id convention) must never
    * drift between them.
    */
  private[streaming] def stageWatermarkSentinels(
      s: org.apache.spark.sql.SparkSession, root: java.io.File,
      srcDir: String, t0: Long,
      offs: Seq[Long] = Seq(36000L, 72000L)): Unit = {
    import s.implicits._
    for ((off, i) <- offs.zipWithIndex) {
      val stage = new java.io.File(root, s"stage_$i")
      Seq((-1L - i, new Timestamp((t0 + off) * 1000L), "", ""))
        .toDF("doc_id", "ts", "text", "lang")
        .coalesce(1).write.mode("overwrite").parquet(stage.getAbsolutePath)
      moveIn(stage, new java.io.File(srcDir, s"zz_sentinel_$i.parquet"),
        System.currentTimeMillis() + (i + 1) * 60000L)
    }
  }

  /** Moves the one part file of the single-partition Spark write `stage`
    * to `dst`, sets its mtime (the file source replays files in mtime
    * order) and deletes the stage dir.
    */
  private def moveIn(stage: java.io.File, dst: java.io.File,
      mtime: Long): Unit = {
    val part = Option(stage.listFiles()).getOrElse(Array.empty[java.io.File])
      .find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file in $stage"))
    java.nio.file.Files.move(part.toPath, dst.toPath)
    dst.setLastModified(mtime)
    graft.util.Dirs.deleteRecursively(stage)
  }

  /** `st_neardup_ingest`: the streaming NEAR-dup pipeline as a corpus
    * query — stage the dup corpus as parquet files plus two LATE
    * event-time sentinels (staged last, so the watermark passes the
    * corpus horizon and every band bucket CLOSES and votes before the
    * AvailableNow stream drains), run the REAL checkpointed
    * [[nearDupDropStream]] over them, then read the committed drop ids
    * back and ledger them per language against the staged corpus. The
    * order-independent bucket-close rule (see nearDupDropStream) is what
    * makes the output exactly DuckDB-replayable: dropped = the distinct
    * greater-side ids of the SAME pair listing `d_minhash_lsh`
    * hash-oracles. The staged input tree is cached per (corpus, stratum)
    * per JVM (Dirs.staged); checkpoint/drop dirs are nonce-keyed and
    * removed after the bounded per-lang extract (the st_ingest_shards
    * discipline).
    */
  private def nearDupLedger(
      s: org.apache.spark.sql.SparkSession, d: String,
      stratum: Option[Int] = None): DataFrame = {
    graft.util.Dirs.withNonceDir("graft_neardup_") { root =>
      val dropDir = s"${root.getAbsolutePath}/drops"
      val ckDir = s"${root.getAbsolutePath}/ck"
      val t0 = 1700000000L
      // staged input (corpus + late sentinels) reused across invocations
      // (Dirs.staged — relative mtime order is what the file source
      // sorts by, preserved in reuse); out/ck stay nonce-fresh.
      // Batch count is the fixed-overhead knob (one state-store delta
      // commit per partition per micro-batch): 2 corpus files +
      // maxFilesPerTrigger=2 → one corpus batch + one sentinel batch,
      // ~2× cheaper than 1-file-per-trigger while still exercising
      // cross-batch state accumulation
      val srcDir = graft.util.Dirs.staged(
          d, s"neardup_${stratum.getOrElse(0)}") { dir =>
        graft.queries.Dedup.corpusWithDups(s, d, stratum)
          .select(col("doc_id"), timestamp_seconds(lit(t0)).as("ts"),
            col("text"), col("lang"))
          .repartition(2).write.mode("overwrite").parquet(dir.getAbsolutePath)
        graft.util.Dirs.withNonceDir("graft_neardup_stage_") { scratch =>
          stageWatermarkSentinels(s, scratch, dir.getAbsolutePath, t0)
        }
      }.getAbsolutePath
      val schema = s.read.parquet(srcDir).schema
      withStatePartitions(s) {
        val src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 2)
          .parquet(srcDir)
        nearDupDropStream(src.withWatermark("ts", "2 hours"))
          .writeStream
          .format("parquet")
          .option("path", dropDir)
          .option("checkpointLocation", ckDir)
          .outputMode(OutputMode.Append)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      val drops = s.read.schema("doc_id BIGINT").parquet(dropDir)
        .select(col("doc_id")).distinct()
        .withColumn("dr", lit(1))
      // the ledger is over what was STREAMED: read the staged tree back
      // (sentinels carry negative ids and must not enter the census)
      val hist = s.read.parquet(srcDir)
        .filter(col("doc_id") >= 0)
        .select(col("doc_id"), col("lang"))
        .join(drops, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("dr").isNotNull, 1L).otherwise(0L)).cast("bigint")
            .as("n_dropped"),
          sum(when(col("dr").isNull, 1L).otherwise(0L)).cast("bigint")
            .as("n_kept"))
        .orderBy("lang")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toIndexedSeq
      import s.implicits._
      hist.toDF("lang", "n_docs", "n_dropped", "n_kept")
    }
  }

  /** `st_sessionize`: the stateful event-time sessionizer as an ORACLED
    * corpus entry — the third live checkpointed pipeline, covering the
    * flatMapGroupsWithState/timeout surface the ingest (content dedup)
    * and near-dup (band-bucket vote) entries don't. What makes a
    * nondeterministic-arrival stream exactly SQL-replayable here:
    * (1) CHRONOLOGICAL staging — the corpus is cut into 4 contiguous
    * event-time slices, one file each, mtime-ordered so AvailableNow's
    * maxFilesPerTrigger=1 replays them as 4 chronological micro-batches
    * (in-file disorder is the in-batch sort's job; cross-batch session
    * state is genuinely carried over every slice boundary); (2) two LATE
    * sentinels (negative user ids, staged last) push the watermark past
    * t1 + gap so every open session times out and flushes before the
    * stream drains; (3) the ledger is in MILLISECONDS — the stateful
    * path compares `Timestamp.getTime` (ms), so the oracle sessionizes
    * over `epoch_us(ts) // 1000` with the identical > gap rule, and
    * durations stay exact integers at any volume. Gap = 12 h (the corpus
    * event density makes 30-min sessions all singletons). The staged
    * slice tree is cached per corpus per JVM (Dirs.staged); checkpoint/
    * output dirs are nonce-keyed and removed after the bounded extract.
    */
  /** Chronological slice staging for the session stream: the corpus cut
    * into 4 contiguous event-time slices (one mtime-ordered file each —
    * with maxFilesPerTrigger=1 the file source replays them as 4
    * chronological micro-batches) plus two LATE sentinel events (negative
    * user ids) whose event times push the watermark past t1 + gap so
    * every open session times out before AvailableNow drains. ONE body
    * for the corpus entry and the kill/restart spec — the staging scheme
    * must never drift between them.
    */
  private[streaming] def stageEventSlices(
      s: org.apache.spark.sql.SparkSession, root: java.io.File,
      srcDir: java.io.File, d: String, gapMs: Long): Unit = {
    import s.implicits._
    val ev = graft.queries.Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val b = ev.agg(min(unix_micros(col("ts"))).as("t0"),
      max(unix_micros(col("ts"))).as("t1")).head
    require(!b.isNullAt(0), "empty events table")
    val (t0us, t1us) = (b.getLong(0), b.getLong(1))
    val slices = 4
    val width = (t1us - t0us) / slices + 1
    val now = System.currentTimeMillis()
    for (i <- 0 until slices) {
      val stage = new java.io.File(root, s"stage_$i")
      ev.filter(unix_micros(col("ts")) >= t0us + i * width &&
          unix_micros(col("ts")) < t0us + (i + 1) * width)
        .coalesce(1).write.mode("overwrite").parquet(stage.getAbsolutePath)
      moveIn(stage, new java.io.File(srcDir, f"slice_$i%02d.parquet"),
        now + (i + 1) * 1000L)
    }
    for (i <- 0 until 2) {
      val stage = new java.io.File(root, s"sent_$i")
      val sentUs = t1us + gapMs * 1000L + (3 + i) * 3600L * 1000000L
      Seq((-1L - i, new Timestamp(sentUs / 1000L), -1L - i, "", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(stage.getAbsolutePath)
      moveIn(stage, new java.io.File(srcDir, s"zz_sentinel_$i.parquet"),
        now + 100000L + i * 60000L)
    }
  }

  private def sessionLedger(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val gapMs = 12L * 3600 * 1000
    graft.util.Dirs.withNonceDir("graft_sess_") { root =>
      import s.implicits._
      // staged slice tree reused across invocations (Dirs.staged — the
      // chronological mtime order the slice replay depends on is
      // relative, so reuse preserves it); out/ck stay nonce-fresh
      val srcDir = graft.util.Dirs.staged(d, "sess") { dir =>
        graft.util.Dirs.withNonceDir("graft_sess_stage_") { scratch =>
          stageEventSlices(s, scratch, dir, d, gapMs)
        }
      }
      val outDir = s"${root.getAbsolutePath}/out"
      val ckDir = s"${root.getAbsolutePath}/ck"
      val schema = s.read.parquet(srcDir.getAbsolutePath).schema
      withStatePartitions(s) {
        val src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir.getAbsolutePath)
        sessionizeStateful(src.as[Event], gapMs)
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckDir)
          .outputMode(OutputMode.Append)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      val hist = s.read.parquet(outDir)
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("n_events"),
          expr("(unix_micros(session_end) - unix_micros(session_start)) div 1000")
            .as("dur_ms"))
        .groupBy(least(col("n_events"), lit(50)).cast("bigint").as("len_bucket"))
        .agg(count(lit(1)).as("n_sessions"),
          sum("dur_ms").cast("bigint").as("total_dur_ms"),
          min("user_id").as("min_user"))
        .orderBy("len_bucket")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toIndexedSeq
      hist.toDF("len_bucket", "n_sessions", "total_dur_ms", "min_user")
    }
  }

  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Map("st_ingest_shards" -> ((s, d) => ingestShardsHistogram(s, d)),
      "st_sessionize" -> ((s, d) => sessionLedger(s, d)),
      "st_neardup_ingest" -> ((s, d) => nearDupLedger(s, d)),
      // stratum twin (the *_s41 device, near-trivial at base SF): the
      // identical checkpointed stream over the 1-in-41 md5 sub-corpus,
      // which keeps the DuckDB pair replay feasible at sf10+ where the
      // full listing replay hits the 77 GB spill wall
      "st_neardup_ingest_s41" -> ((s, d) => nearDupLedger(s, d, Some(41))))

  /** The batch-mirror SQL: distinct content fingerprints of the dup
    * corpus, placed by the same md5-48 draw — count per shard is
    * keep-choice-invariant, min(fp) pins the content assignment itself.
    */
  val oracles: Map[String, String] = Map(
    // millisecond sessionization (Timestamp.getTime semantics): the lag/
    // cumsum gap rewrite over epoch_us // 1000, same > 12h rule, same
    // (ms, event_id) ordering; durations are exact integer ms
    "st_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1000 AS ms FROM events),
        |l AS (
        |  SELECT user_id, event_id, ms,
        |    lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev
        |  FROM e),
        |sid AS (
        |  SELECT user_id, ms,
        |    sum(CASE WHEN prev IS NULL OR ms - prev > 43200000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ms, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM l),
        |sess AS (
        |  SELECT user_id, sess, count(*) AS n_events,
        |    max(ms) - min(ms) AS dur_ms
        |  FROM sid GROUP BY user_id, sess)
        |SELECT least(n_events, 50) AS len_bucket, count(*) AS n_sessions,
        |  CAST(sum(dur_ms) AS BIGINT) AS total_dur_ms,
        |  min(user_id) AS min_user
        |FROM sess GROUP BY 1 ORDER BY len_bucket""".stripMargin,
    "st_ingest_shards" ->
      s"""WITH dups AS (${dupsSql("text")}),
        |fp AS (
        |  SELECT DISTINCT
        |    md5(${normTextSql("text")}) AS fp
        |  FROM dups),
        |s AS (
        |  SELECT CAST('0x' || substr(md5(fp), 1, 12) AS BIGINT) % 7 AS shard, fp
        |  FROM fp)
        |SELECT shard, count(*) AS n_docs, min(fp) AS min_fp
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    // The near-dup ledger replay: the SAME shared pair CTE chain the
    // d_minhash_lsh oracle hash-matches (Tables.minhashPairCtesSql), with
    // the bucket-close drop rule "distinct greater-side id of any
    // >= 12/16-equal candidate pair" — est >= 0.75 on candidates, which
    // coincides exactly with the batch >= 0.7 threshold (11/16 = 0.6875
    // is the next value down).
    "st_neardup_ingest" -> nearDupLedgerSql(None),
    "st_neardup_ingest_s41" -> nearDupLedgerSql(Some(41)))

  private def nearDupLedgerSql(stratum: Option[Int]): String =
      s"""WITH dups AS MATERIALIZED (${dupsSql("text, lang", stratum)}),
        |${minhashPairCtesSql("dups")},
        |drp AS (SELECT DISTINCT id_b AS doc_id FROM near WHERE est >= 0.7)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN drp.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(sum(CASE WHEN drp.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM dups LEFT JOIN drp ON dups.doc_id = drp.doc_id
        |GROUP BY lang ORDER BY lang""".stripMargin
}
