package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TestSpark}

class TrainingShardsSpec extends SparkSpec {

  test("parquet shards: deterministic md5-48 placement, one file per shard") {
    val dir = Files.createTempDirectory("pqshards").toFile
    try {
      val in = graft.queries.Tables.t(spark, TestSpark.sf0001, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      TrainingShards.writeParquetShards(in, "doc_id", dir.getAbsolutePath, 8)
      val shardDirs = dir.listFiles().filter(_.getName.startsWith("shard="))
      assert(shardDirs.map(_.getName).toSeq.sorted ==
        (0 until 8).map(k => s"shard=$k").sorted,
        "all 8 hash shards must materialize")
      shardDirs.foreach { sd =>
        assert(sd.listFiles().count(_.getName.endsWith(".parquet")) == 1,
          s"${sd.getName} must hold one file, not a fragment per input task")
      }
      val back = spark.read.parquet(dir.getAbsolutePath)
      assert(back.count() == in.count())
      // placement is a pure hash of the key: recomputing it must agree
      // with what was written (re-runs/backfills place rows identically)
      val mismatches = back.withColumn("expect",
          TrainingShards.assignShardReplayable(col("doc_id"), 8))
        .filter(col("shard").cast("int") =!= col("expect")).count()
      assert(mismatches == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("parquet shards: incremental backfill replaces only the touched shards") {
    val dir = Files.createTempDirectory("pqbackfill").toFile
    try {
      val in = graft.queries.Tables.t(spark, TestSpark.sf0001, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      TrainingShards.writeParquetShards(in, "doc_id", dir.getAbsolutePath, 8)
      val before = spark.read.parquet(dir.getAbsolutePath).count()
      // a delta batch that hashes into a strict subset of shards
      val delta = in.filter(
        TrainingShards.assignShardReplayable(col("doc_id"), 8) === 3)
      assert(delta.count() > 0 && delta.count() < before)
      TrainingShards.writeParquetShards(delta, "doc_id", dir.getAbsolutePath, 8)
      // dynamic overwrite: shard=3 replaced, every other shard untouched
      val after = spark.read.parquet(dir.getAbsolutePath).count()
      assert(after == before,
        s"backfill must not delete untouched shards ($after vs $before)")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }
}
