package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, conv, lit, md5, pmod, substring}

/** Training-shard layout: rows sharded into Hive-style `shard=<k>/`
  * parquet directories by a deterministic shard key (see
  * `graft.queries.Curation` c_shard_assign for the key derivation).
  *
  * Scale notes:
  * - `repartition(shard)` first, so each shard's rows co-locate and the
  *   writer emits one file set per shard directory instead of
  *   numPartitions × numShards fragments (the classic small-files explosion
  *   at 1000 executors);
  * - `partitionBy` gives Hive-style `shard=<v>/` directories, so a reader
  *   that wants shards 0-3 of 256 partition-prunes the rest at the source.
  */
object TrainingShards {

  /** Deterministic shard id in [0, nShards) from any key column: the
    * repo-standard md5-48 draw (first 12 hex chars of md5 of the key
    * string) mod nShards — never an RNG, so re-runs and incremental
    * backfills place every row identically, and DuckDB replays the same
    * placement for the oracle-checked `st_ingest_shards` and
    * `c_pretrain_build` entries.
    */
  def assignShardReplayable(key: Column, nShards: Int): Column = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    pmod(conv(substring(md5(key.cast("string")), 1, 12), 16, 10)
      .cast("bigint"), lit(nShards.toLong)).cast("int")
  }

  /** Write `df` as `path/shard=<k>/part-*.parquet`, sharded by
    * [[assignShardReplayable]] of `keyCol`. At 100 TB, cap file sizes
    * with `spark.sql.files.maxRecordsPerFile` rather than more shards:
    * shard count should track the downstream LOADER's parallelism, not
    * the writer's.
    */
  def writeParquetShards(
      df: DataFrame,
      keyCol: String,
      path: String,
      nShards: Int): Unit =
    df.withColumn("shard", assignShardReplayable(col(keyCol), nShards))
      .repartition(col("shard"))
      .write.mode("overwrite")
      // dynamic partition overwrite: an incremental batch whose rows hash
      // into only some shards replaces exactly THOSE shard directories —
      // static mode (the Spark default) would delete every other shard's
      // historical data on a backfill
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard").parquet(path)
}
