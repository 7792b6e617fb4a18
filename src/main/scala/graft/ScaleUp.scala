package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the driver's testdata: replicates every fact
  * table N× with referential-integrity-preserving key offsets, so the
  * engine's linear-scaling claim can be MEASURED (Verify + Bench at sf1)
  * instead of argued.
  *
  * Design:
  * - one copy index k ∈ [0, N): every key column gets `+ k * Base`
  *   (Base = 1.2×10¹⁰ — above any real key, divisible by 2/3/5 so the
  *   corpus queries' `id % m` semantics — dup planting %5, media kind %3 —
  *   are preserved per copy). References are intra-copy, so offsetting ALL
  *   key columns by the same base keeps every FK join valid
  *   (customer(k) ↔ orders(k) ↔ lineitem(k), …).
  * - fixed dimensions (region, nation) are copied once — realistic:
  *   dimensions don't grow with fact volume.
  * - events.ts converts from TIMESTAMP(NANOS)-as-long to true µs timestamps
  *   (identical floor-division downcast the readers use), so the scaled
  *   dataset is readable by vanilla Spark AND DuckDB without legacy confs.
  * - layout: by default one parquet FILE per table (matching the driver's
  *   layout so the same Verify/Bench/check_oracle tooling runs unchanged);
  *   with a 4th argument `files` > 1, `<name>.parquet` is written as a
  *   DIRECTORY of that many part files — the layout a real 100 TB corpus
  *   has (thousands of files), proving scan parallelism and correctness
  *   do not depend on single-file row-group splitting. Spark reads the
  *   directory transparently; tools/check_oracle.py globs it.
  * - with a 5th argument `hive`, the fact tables additionally get the
  *   date/source-partitioned DIRECTORY layout a real 100 TB lake has:
  *   orders and events are Hive-partitioned by month
  *   (`__p_month=YYYY-MM/`), documents by language (`__p_lang=…/`), with
  *   `files` part files per write task. The `__p_*` columns are PHYSICAL
  *   layout metadata, duplicated from data columns — `Tables.t` drops
  *   them on read so every corpus query sees the layout-invariant logical
  *   schema (and tools/check_oracle.py reads the part files with
  *   hive_partitioning off), while partition-PRUNED scans on `__p_*` are
  *   exercised by the LayoutSpec guard and q_partition_prune.
  *
  * - with a `perturb` flag, replicated `documents.text` is PERTURBED per
  *   copy group (copy 0 keeps the original bytes): an 8-hex-char code
  *   derived from the copy index is inserted after every 7th character
  *   AND appended once at the end. The splice destroys most 5-char
  *   shingles between any two copies (cross-copy Jaccard far under the
  *   0.7 LSH listing threshold); the append guarantees cross-copy
  *   DISTINCTNESS even for texts shorter than 7 chars or segments the
  *   dot-regex skips at newlines. 8 hex chars = 2³² codes, so 300 copy
  *   groups collide with P ≈ 1e-5 (4 hex = 2¹⁶ collided with P ≈ 0.68 at
  *   300 — measured as one byte-identical cross-copy pair per base doc).
  *   Every WITHIN-copy relationship — including the corpusWithDups
  *   planted twins, constructed from the same stored row and so still
  *   byte-identical — stays intact. Verbatim
  *   replication gives every base doc `copies`-many identical instances,
  *   so near-dup PAIR listings grow Ω(copies²) per group — a corpus-
  *   generator artifact no real crawl exhibits (real dup-group sizes are
  *   power-law-bounded); perturbed replication bounds group sizes at the
  *   planted 2, making high-SF near-dup measurements reflect the PLAN,
  *   not the generator. The same flag JITTERS replicated
  *   `embeddings.embedding` (copy 0 verbatim; copy k > 0 sign-flips AND
  *   (1 + k/4096)-scales the md5-48(vec_id:k) % 64-th component):
  *   verbatim vector replication gave
  *   every base vector `copies` byte-identical twins, which pinned the
  *   high-SF recall census at a deterministic 1.0 — jittered copies are
  *   near-but-distinct neighbors (DISTINCT at any copy count — the
  *   k-scaled magnitude prevents the ≤-65-variant collapse of a pure
  *   sign flip), so recall measures codebook quality.
  *   Generation-side only: the oracle replays from
  *   the written parquet, so no SQL twin is needed.
  *
  * Usage: runMain graft.ScaleUp [srcDir dstDir copies [files] [hive] [perturb]]
  * (the 5th+ args are order-free flags)
  */
object ScaleUp {

  val Base = 12000000000L

  private val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq.empty,
    "nation" -> Seq.empty,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse(GraftSession.defaultSfDir)
    val dst = args.lift(1).getOrElse("/tmp/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val files = args.lift(3).map(_.toInt).getOrElse(1)
    val flags = args.drop(4).toSet
    val unknown = flags -- Set("hive", "perturb")
    require(unknown.isEmpty, s"unknown flags: ${unknown.mkString(",")}")
    val hive = flags("hive")
    val perturb = flags("perturb")

    val spark = GraftSession.builder(GraftSession.cpus)
      .appName("graft-scaleup")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    scale(spark, src, dst, copies, files, hive, perturb)
    spark.stop()
  }

  /** Hive partition-column derivations per table: name → (partition col,
    * derivation). The reserved `__p_` prefix marks them as layout
    * metadata (Tables.t strips it on read).
    */
  private val hiveParts: Map[String, (String, org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.Column)] = Map(
    "orders" -> (("__p_month", _ => date_format(col("o_orderdate"), "yyyy-MM"))),
    "events" -> (("__p_month", _ => date_format(col("ts"), "yyyy-MM"))),
    "documents" -> (("__p_lang", _ => col("lang"))))

  /** The replication+layout core, callable from tests with a shared
    * session (main wraps it in its own).
    */
  /** Stage-boundary strategy before a parallelism-collapsing coalesce
    * (r16 ADVICE on the old unconditional localCheckpoint): the scaled
    * set must materialize ONCE at full parallelism, but HOW depends on
    * its size. localCheckpoint stores deserialized blocks in executor
    * memory (spilling under pressure) — right for test-SF sets, wrong
    * when the scaled output is tens of GB; past the threshold a
    * DISK_ONLY persist keeps the materialization serialized on disk and
    * off the block-manager memory budget. Estimated from source parquet
    * bytes × copies (compressed — the conservative side of the memory
    * question). Pure decision logic, unit-tested in ScaleUpSpec.
    */
  /** localCheckpoint stores DESERIALIZED row blocks, typically 3-10× the
    * compressed parquet bytes the estimate counts (r17 ADVICE low) — the
    * memory budget is therefore compared against estBytes × a 4×
    * deserialization fudge (the conservative end of the measured range;
    * equivalently: the 'local' branch caps at 512 MiB of compressed
    * source × copies ≈ ≤ 2 GiB of block-manager memory).
    */
  private[graft] val deserFactor = 4L

  private[graft] def boundaryMode(estBytes: Long, files: Int,
      parallelism: Int): String =
    if (files >= parallelism) "none" // coalesce target ≥ cores: no collapse
    else if (estBytes * deserFactor <= (2L << 30)) "local"
    else "disk"

  private def withBoundary(df: org.apache.spark.sql.DataFrame,
      mode: String): org.apache.spark.sql.DataFrame = mode match {
    case "none" => df
    case "local" => df.localCheckpoint()
    case "disk" =>
      val p = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      p.count() // materialize eagerly, like localCheckpoint
      p
  }

  private def srcBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else f.length()
    walk(new java.io.File(path))
  }

  def scale(spark: SparkSession, src: String, dst: String,
      copies: Int, files: Int, hive: Boolean = false,
      perturb: Boolean = false): Unit = {
    require(copies >= 1 && copies * Base > 0, s"bad copy count $copies")
    require(files >= 1, s"bad file count $files")
    Files.createDirectories(Paths.get(dst))
    keyCols.foreach { case (name, keys) =>
      val raw0 = spark.read.parquet(s"$src/$name.parquet")
      val estBytes = srcBytes(s"$src/$name.parquet") * copies
      val raw =
        if (name == "events" && raw0.schema("ts").dataType ==
            org.apache.spark.sql.types.LongType)
          raw0.withColumn("ts",
            timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
        else raw0
      val scaled =
        if (keys.isEmpty) raw
        else {
          // spread the SOURCE rows across the session's cores BEFORE the
          // copies-way explode: the driver testdata is one file per
          // table, which the scan reads as 1-3 partitions, so at high
          // copy counts (sf100 = 1000×) the whole fan-out ran as a
          // couple of single-threaded tasks (measured: 35 min with no
          // output at 1000×; 32-way pre-spread generates the same bytes
          // in minutes). The pre-explode shuffle moves only the SOURCE
          // rows — cheap — and every downstream layout mode re-shuffles
          // anyway, so output content is unchanged.
          val spread = raw.repartition(
            raw.sparkSession.sparkContext.defaultParallelism)
          val keyed = spread
            .withColumn("__k", explode(typedLit((0 until copies).map(_.toLong))))
            .select(raw.columns.toIndexedSeq.map { c =>
              if (keys.contains(c)) (col(c) + col("__k") * Base).as(c) else col(c)
            } :+ col("__k"): _*)
          val out =
            if (perturb && name == "documents")
              // copy-group perturbation (see scaladoc): copy 0 verbatim;
              // copy k > 0 gets an 8-hex md5(k) code spliced in after
              // every 7th character and appended once — deterministic, so
              // reruns regenerate the identical corpus byte-for-byte
              keyed.withColumn("text",
                when(col("__k") === 0, col("text")).otherwise(
                  concat(
                    regexp_replace(col("text"), lit("(.{7})"),
                      concat(lit("$1"),
                        substring(md5(col("__k").cast("string")), 1, 8))),
                    lit(" "),
                    substring(md5(col("__k").cast("string")), 1, 8))))
            else if (perturb && name == "embeddings")
              // embedding jitter per REPLICATED ROW (r17 VERDICT ask #3 —
              // verbatim replication made the sf100 recall census a
              // tautology: every top vector had `copies` byte-identical
              // twins, pinning recall@5 = 1.0 deterministically): copy 0
              // verbatim; copy k > 0 perturbs ONE component — index =
              // md5-48(vec_id || ':' || k) % 64, value sign-flipped AND
              // scaled by (1 + k/4096). The r18 jitter derived the flip
              // index from k alone and flipped the sign only, so any
              // copy group larger than 64 collapsed to ≤ 65 distinct
              // variants with byte-identical twins (r18 ADVICE); hashing
              // the row id decorrelates the perturbed component across
              // base vectors, and the k-scaled magnitude (steps of
              // 2.4e-4 relative — far above float32 eps, ≤ 24% of one
              // component at 1000 copies) makes EVERY replicated row
              // distinct regardless of copy count. Deterministic (md5 of
              // stable ids + integer-indexed scale), same
              // rerun-regenerates-identical contract as the text splice.
              keyed.withColumn("embedding",
                when(col("__k") === 0, col("embedding")).otherwise(
                  transform(col("embedding"), (x, i) =>
                    when(i === (conv(substring(
                        md5(concat(col("vec_id").cast("string"), lit(":"),
                          col("__k").cast("string"))), 1, 12), 16, 10)
                        .cast("bigint") % 64).cast("int"),
                      (-x * (lit(1.0) + col("__k").cast("double") / 4096.0))
                        .cast("float")).otherwise(x))))
            else keyed
          out.drop("__k")
        }
      if (hive && hiveParts.contains(name)) {
        // Hive-partitioned lake layout: the fact table becomes a tree of
        // `__p_<k>=<v>/` directories (the realistic shape of a 100 TB
        // date/source-partitioned corpus). Repartition by the partition
        // column so each directory is written by few tasks (bounded file
        // counts), with a spread key inside whale partitions.
        val (pcol, derive) = hiveParts(name)
        val withP = scaled.withColumn(pcol, derive(scaled))
        withP.repartition(files, col(pcol), pmod(spark_partition_id(), lit(files)))
          .write.mode("overwrite")
          .partitionBy(pcol)
          .option("parquet.block.size", (8 * 1024 * 1024).toString)
          .parquet(s"$dst/$name.parquet")
        println(s"scaled $name -> $dst/$name.parquet/ (hive: $pcol, $files tasks)")
      } else if (files > 1) {
        // multi-file layout: <name>.parquet is a directory of part files.
        // The pre-explode spread (above) already distributes source rows
        // evenly across partitions, so coalesce — a NARROW dependency —
        // reaches the target file count with ZERO post-explode shuffle;
        // the previous repartition(files) re-shuffled the full scaled
        // dataset (at 1000× that shuffle alone exceeded the box's free
        // disk). Each part file holds all copies of its source-row
        // subset — even sizes, real file-granular scan parallelism.
        // coalesce being narrow also means the EXPLODE would run at only
        // `files`-way parallelism when files < cores (collapsing the
        // pre-spread); a stage boundary fixes that — the explode
        // materializes at full parallelism, the coalesced write reads
        // the materialized blocks. boundaryMode picks HOW: in-memory
        // localCheckpoint below the size threshold, DISK_ONLY persist
        // above it (a multi-GB scaled set must not squat in block-
        // manager memory). The 1000×-scale layouts use files >= cores
        // and skip the copy entirely.
        val mode = boundaryMode(estBytes, files,
          spark.sparkContext.defaultParallelism)
        val forWrite = withBoundary(scaled, mode)
        forWrite.coalesce(files).write.mode("overwrite")
          .option("parquet.block.size", (8 * 1024 * 1024).toString)
          .parquet(s"$dst/$name.parquet")
        if (mode == "disk") forWrite.unpersist()
        println(s"scaled $name -> $dst/$name.parquet/ ($files files)")
      } else {
        val stage = s"$dst/.stage_$name"
        // single FILE (the driver's layout) but many ROW GROUPS: an 8 MB block
        // size keeps the file splittable, so scan stages parallelize — a
        // one-row-group 77 MB lineitem file serializes every scan (measured
        // 34× on q_distinct at 10× data before this). Same coalesce-collapse
        // guard as the multi-file branch: boundary before coalesce(1).
        val mode1 =
          if (spark.sparkContext.defaultParallelism <= 1) "none"
          else boundaryMode(estBytes, 1, spark.sparkContext.defaultParallelism)
        val forWrite1 = withBoundary(scaled, mode1)
        forWrite1.coalesce(1).write.mode("overwrite")
          .option("parquet.block.size", (8 * 1024 * 1024).toString)
          .parquet(stage)
        if (mode1 == "disk") forWrite1.unpersist()
        val part = scala.util.Using.resource(Files.list(Paths.get(stage)))(
          _.iterator().asScala.find(_.getFileName.toString.startsWith("part-")))
          .getOrElse(throw new IllegalStateException(s"no part file for $name"))
        Files.move(part, Paths.get(s"$dst/$name.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        scala.util.Using.resource(Files.walk(Paths.get(stage)))(
          _.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)))
        println(s"scaled $name -> $dst/$name.parquet")
      }
    }
  }
}
