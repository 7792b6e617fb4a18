package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/** The end-to-end BATCH pretraining-data build — the composition a real
  * 100 TB curation run executes as ONE pipeline, chained here from the
  * corpus's individually-proven stages and oracled as a single entry
  * (`c_pretrain_build`):
  *
  *   dup-planted crawl corpus            (Dedup.corpusWithDups)
  *     → quality gate                    (the c_gopher_quality discipline)
  *     → exact dedup                     (first-per-content-fingerprint)
  *     → near dedup                      (MinHash-LSH pairs → connected
  *                                        components → keep cluster roots)
  *     → mixture sampling                (the c_mix_schedule rate + exact
  *                                        md5 2⁴⁸ uniform draw)
  *     → training-shard write            (TrainingShards.writeParquetShards,
  *                                        replayable md5-48 placement)
  *     → read the shard tree back and histogram it.
  *
  * This is the batch sibling of the oracled streaming ingest entry
  * (`st_ingest_shards`): that one proves the checkpointed continuous
  * half; this one proves the full curation composition over the same
  * corpus, with every keep/drop decision deterministic (min-id per
  * fingerprint, CC component minima, the md5 uniform draw) so the DuckDB
  * oracle replays the whole chain as one CTE pipeline and hash-checks
  * the final shard histogram — which transitively pins every stage
  * boundary (a single doc kept or dropped differently anywhere moves
  * n_docs/n_tokens/min_fp in some shard).
  *
  * Scale shape: every stage is a hash-partitioned equi-join or
  * partial-agg'd groupBy (gopher's explode+agg, the fp window, the LSH
  * band join, CC's label propagation, the lang-rate broadcast, the
  * shard repartition) — no cross joins, no driver-side data loops. The
  * survivor set is localCheckpoint-materialized ONCE at the exact-dedup
  * boundary (the point a real pipeline would persist to the lake) so the
  * near-dup stage, the anti-join and the mixer don't each re-run the
  * upstream filter chain.
  */
object PretrainBuild {

  private def build(s: SparkSession, d: String): DataFrame = {
    val nShards = 7

    // Stage 0+1: dup-planted corpus through the Gopher-style quality gate
    // (word count ≥ 20, top-word fraction ≤ 0.15 — c_gopher_quality's
    // exact predicates, so the oracle replay is the proven CTE). The
    // top-word count is the native per-row TopTokenCount (r20, guide
    // §2.4): the former explode → two groupBys → join shuffled the
    // exploded token stream twice and re-attached through an equi-join
    // carrying the text payload, for a decision that needs only the
    // row's own token array.
    val q = graft.queries.Dedup.corpusWithDups(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        Text.tokens(col("text")).as("sp"))
      .select(col("doc_id"), col("lang"), col("text"),
        size(col("sp")).as("n_words"),
        graft.functions.GraftFunctions.topTokenCount(col("sp")).as("top_cnt"))
      .filter(col("n_words") >= 20 &&
        col("top_cnt").cast("double") / col("n_words") <= 0.15)
      .select(col("doc_id"), col("lang"), col("text"), col("n_words"))

    // Stage 2: exact dedup — keep the min doc_id per content fingerprint
    // (the d_exact_dedup / d_stream_dedup_mirror rule), fingerprint
    // carried forward as the shard key. Materialized once (see scaladoc).
    val exact = q
      .withColumn("fp", md5(Text.normText(col("text"))))
      .withColumn("mn", min("doc_id").over(Window.partitionBy("fp")))
      .filter(col("doc_id") === col("mn"))
      .select(col("doc_id"), col("lang"), col("text"), col("n_words"), col("fp"))
      .localCheckpoint()

    // Stage 3: near dedup over the exact survivors — LSH pairs (bucketed
    // band equi-join) → connected components → drop every non-root
    // member. Survivors not in any near-dup pair pass through the
    // anti-join untouched.
    val pairs = graft.queries.Dedup.minhashPairsOf(
        exact.select(col("doc_id"), col("text")))
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val cc = graft.queries.Dedup.connectedComponentsFromEdges(pairs)
    val drop = cc.filter(col("v") =!= col("root"))
      .select(col("v").as("doc_id"))
    val near = exact.join(drop, Seq("doc_id"), "left_anti")

    // Stage 4: mixture sampling — the c_mix_schedule target (en 40%, rest
    // even) inside a budget of half the surviving tokens, applied with
    // the exact-uniform md5 2⁴⁸ draw (bit-identical cross-engine; rate
    // compared UNROUNDED on both sides, as in c_mix_schedule).
    val avail = near.groupBy("lang")
      .agg(sum(col("n_words").cast("long")).as("avail_tokens"))
    val tot = avail.agg(sum("avail_tokens").cast("double").as("total"),
      count(lit(1)).cast("double").as("n_langs"))
    val rates = avail.crossJoin(broadcast(tot))
      .select(col("lang"),
        least(lit(1.0),
          (lit(0.5) * col("total") *
            when(col("lang") === "en", 0.4)
              .otherwise((lit(1.0) - 0.4) / (col("n_langs") - 1.0))) /
            col("avail_tokens")).as("rate"))
    val u = (conv(substring(md5(col("text")), 1, 12), 16, 10)
      .cast("double") + 1.0) / 281474976710656.0
    val mixed = near.join(broadcast(rates), "lang")
      .filter(u < col("rate"))
      .select(col("doc_id"), col("lang"), col("fp"), col("n_words"))

    // Stage 5: shard the selection by content fingerprint (md5-48
    // replayable placement, as in st_ingest_shards) and write the Hive
    // shard tree; repartition(shard)
    // inside writeParquetShards keeps it one file set per shard at any
    // executor count. The work dir is keyed by a per-invocation nonce so
    // concurrent driver rounds on the same corpus can never clobber each
    // other's tree, and is deleted after the histogram is taken.
    graft.util.Dirs.withNonceDir("graft_pretrain_") { root =>
      val outDir = new java.io.File(root, "shards").getAbsolutePath
      graft.io.TrainingShards.writeParquetShards(
        mixed, keyCol = "fp", path = outDir, nShards = nShards)
      // Read the tree back and histogram it — the deliverable a build run
      // reports (docs + tokens per shard, min fp pinning the placement).
      // The histogram is ≤ nShards rows: a bounded scalar extract (the
      // MMR/lattice precedent), collected so the work dir can be removed
      // before returning.
      val shardDirs = Option(new java.io.File(outDir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith("shard="))
      val hist: Array[Row] =
        if (shardDirs.isEmpty) Array.empty
        else s.read.parquet(outDir)
          .groupBy(col("shard").cast("bigint").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words").cast("long")).as("n_tokens"),
            min("fp").as("min_fp"))
          .orderBy("shard")
          .collect()
      val out = hist.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toIndexedSeq
      import s.implicits._
      out.toDF("shard", "n_docs", "n_tokens", "min_fp")
    }
  }

  val queries: Map[String, Q] = Map(
    "c_pretrain_build" -> ((s, d) => build(s, d)))

  /** The whole build replayed as one CTE chain: gopher gate → min-id per
    * fingerprint → the shared MinHash pair CTEs (Tables.minhashPairCtesSql)
    * → the unrolled label-min CC rounds (Tables.labelMinCcSql, with its
    * convergence guard) → mix rates + md5 draw → md5-48 shard placement →
    * histogram.
    */
  val oracles: Map[String, String] = Map(
    "c_pretrain_build" ->
      s"""WITH dups AS MATERIALIZED (${dupsSql("text, lang")}),
        |spd AS (
        |  SELECT doc_id, lang, text,
        |    string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS sp
        |  FROM dups),
        |base AS (SELECT doc_id, lang, text, len(sp) AS n_words FROM spd),
        |top AS (
        |  SELECT doc_id, max(c) AS top_cnt FROM
        |    (SELECT doc_id, w, count(*) AS c
        |     FROM (SELECT doc_id, unnest(sp) AS w FROM spd) GROUP BY doc_id, w)
        |  GROUP BY doc_id),
        |q AS (
        |  SELECT b.doc_id, b.lang, b.text, b.n_words
        |  FROM base b JOIN top t USING (doc_id)
        |  WHERE b.n_words >= 20 AND CAST(t.top_cnt AS DOUBLE) / b.n_words <= 0.15),
        |ex AS MATERIALIZED (
        |  SELECT doc_id, lang, text, n_words,
        |    md5(${normTextSql("text")}) AS fp
        |  FROM q
        |  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY
        |    md5(${normTextSql("text")}))),
        |${minhashPairCtesSql("ex")},
        |p AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM near WHERE est >= 0.7),
        |${labelMinCcSql("c_pretrain_build")},
        |nd AS MATERIALIZED (
        |  SELECT ex.doc_id, ex.lang, ex.text, ex.n_words, ex.fp
        |  FROM ex LEFT JOIN d6 ON ex.doc_id = d6.v
        |  WHERE d6.v IS NULL OR d6.lbl = ex.doc_id),
        |avail AS (SELECT lang, CAST(sum(n_words) AS BIGINT) AS avail_tokens
        |          FROM nd GROUP BY lang),
        |tot AS (SELECT CAST(sum(avail_tokens) AS DOUBLE) AS total,
        |               CAST(count(*) AS DOUBLE) AS n_langs FROM avail),
        |rates AS (
        |  SELECT lang,
        |    least(CAST(1.0 AS DOUBLE),
        |      (0.5 * total * CASE WHEN lang = 'en' THEN CAST(0.4 AS DOUBLE)
        |                     ELSE (1.0 - 0.4) / (n_langs - 1.0) END) / avail_tokens) AS rate
        |  FROM avail CROSS JOIN tot),
        |mx AS MATERIALIZED (
        |  SELECT nd.doc_id, nd.lang, nd.fp, nd.n_words
        |  FROM nd JOIN rates USING (lang)
        |  WHERE ((CAST('0x' || substr(md5(text), 1, 12) AS BIGINT) + 1.0)
        |         / 281474976710656.0) < rate),
        |sh AS (
        |  SELECT CAST('0x' || substr(md5(fp), 1, 12) AS BIGINT) % 7 AS shard,
        |         n_words, fp
        |  FROM mx)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) + (SELECT guard FROM chk) AS n_tokens,
        |  min(fp) AS min_fp
        |FROM sh GROUP BY shard ORDER BY shard""".stripMargin)
}
