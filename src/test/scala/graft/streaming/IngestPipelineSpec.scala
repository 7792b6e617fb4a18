package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TestSpark}
import graft.queries.Dedup

/** End-to-end exactly-once proof for the streaming ingest pipeline: a real
  * `DataStreamWriter` over a watched directory is STOPPED mid-stream and
  * resumed from its checkpoint; the final shard tree must contain every
  * unique document exactly once and content-hash-match the batch mirror.
  * This is the missing last mile past MemoryStream specs — checkpointed
  * source offsets + recovered dedup state + the parquet sink's
  * `_spark_metadata` manifest, all through the public API.
  */
class IngestPipelineSpec extends SparkSpec {

  test("ingestDocsToShards: stop mid-stream, resume from checkpoint — no dup, no loss") {
    val root = java.nio.file.Files.createTempDirectory("ingest-e2e").toString
    val srcDir = s"$root/in"
    val outDir = s"$root/out"
    val ckDir = s"$root/ck"
    val nShards = 8

    // stage the dup corpus (every 5th doc twice) as 8 files with synthetic
    // ingest timestamps inside one watermark horizon; 8 files, one per
    // micro-batch → 8 micro-batches to interrupt between
    val staged = Dedup.corpusWithDups(spark, TestSpark.sf0001)
      .select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"),
        col("text"))
    staged.repartitionByRange(8, col("doc_id"))
      .write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val total = staged.count()

    def start() = EventStreams.ingestDocsToShards(
      spark, srcDir, schema, outDir, ckDir, nShards)

    // phase 1: run until at least two micro-batches committed, then stop —
    // the in-process equivalent of killing the job mid-stream
    val q1 = start()
    try {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (q1.recentProgress.count(_.numInputRows > 0) < 2 &&
          System.nanoTime() < deadline) Thread.sleep(100)
      assert(q1.recentProgress.count(_.numInputRows > 0) >= 2,
        "stream made no progress within the deadline")
    } finally q1.stop()
    q1.awaitTermination()
    val midRows = spark.read.parquet(outDir).count()
    assert(midRows > 0, "some shards must be committed before the stop")

    // phase 2: restart from the SAME checkpoint + output dir and drain
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    q2.awaitTermination()

    // the committed view (read through the _spark_metadata manifest)
    val out = spark.read.parquet(outDir)
    val mirror = EventStreams.docDedupStream(staged) // batch branch
      .withColumn("shard",
        graft.io.TrainingShards.assignShardReplayable(col("fp"), nShards))

    // exactly once: one row per content fingerprint, nothing lost
    val perFp = out.groupBy("fp").count()
    assert(perFp.agg(max("count")).collect().head.getLong(0) == 1L,
      "a fingerprint emitted twice means the restart duplicated data")
    assert(out.count() == mirror.count(),
      "row count must equal the batch mirror's distinct-content count")
    assert(out.count() < total, "the dup corpus must actually deduplicate")

    // content hash match vs the batch mirror: duplicates share text, so the
    // (fp, text, shard) projection is keep-choice-invariant and must match
    // EXACTLY; shard placement must be the deterministic md5-48 draw
    val outSet = out.select("fp", "text", "shard").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val mirrorSet = mirror.select("fp", "text", "shard").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(outSet == mirrorSet,
      "streamed shard tree must content-match the batch mirror")

    // the layout is the TrainingShards Hive tree
    val shardDirs = new java.io.File(outDir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("shard=")).toSet
    assert(shardDirs.nonEmpty && shardDirs.subsetOf(
      (0 until nShards).map(k => s"shard=$k").toSet))
  }
}
