package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/** Deduplication operators over `documents`: exact (hash groupBy), MinHash
  * LSH (shingle → minhash → band → bucket self-join), SimHash, and exact
  * n-gram Jaccard on candidate pairs.
  *
  * Scale design: near-dup never computes the O(n²) pair space — LSH banding
  * turns it into an equi-join on (band, signature), which Spark shuffles by
  * bucket key; only same-bucket candidates are verified. All hashing uses
  * built-in xxhash64 (codegen'd), no UDFs.
  */
object Dedup {

  /** Character k-shingles of normalized text (k=5). `sequence` + `substring`
    * via expr because substring's pos must be a column here.
    */
  def shingles(textCol: String, k: Int = 5): Column =
    array_distinct(expr(
      s"transform(sequence(1, greatest(length($textCol) - ${k - 1}, 1)), i -> substring($textCol, i, $k))"))

  /** Corpus with synthetic duplicates: every 5th doc appears twice, with
    * collision-free ids at ANY corpus size (id = doc_id*2 + copy, a
    * bijection — a fixed additive offset would alias real doc_ids once the
    * corpus outgrows it). Single scan: rows self-replicate via an exploded
    * copy array instead of a union of two scans (halves the read at scale).
    * A `stratum` (Tables.stratum) draws the BASE ids before dup planting,
    * so both engines select the identical sample. The oracle spelling is
    * Tables.dupsSql.
    */
  def corpusWithDups(s: org.apache.spark.sql.SparkSession, d: String,
      stratum: Option[Int] = None): DataFrame =
    inStratum(t(s, d, "documents"), "doc_id", stratum)
      .withColumn("__copy",
        explode(when(col("doc_id") % 5 === 0, array(lit(0L), lit(1L)))
          .otherwise(array(lit(0L)))))
      .withColumn("doc_id", col("doc_id") * 2 + col("__copy"))
      .drop("__copy")

  /** MinHash-LSH near-dup pairs over the dup corpus: 16 hashes × 4 bands of
    * 4 → explode band signatures → equi-join on (band, bsig) → verify
    * candidates by estimated Jaccard (fraction of equal minhashes) ≥ 0.7.
    * At scale this is a shuffle on bucket key, never an O(n²) cross join.
    */
  def minhashPairs(s: org.apache.spark.sql.SparkSession, d: String,
      stratum: Option[Int] = None): DataFrame =
    minhashPairsOf(corpusWithDups(s, d, stratum))

  /** The same LSH pair listing over an ARBITRARY (doc_id, text) frame —
    * the form composable into larger pipelines (c_pretrain_build runs it
    * over the quality-filtered, exact-deduped survivor set). Same plan
    * shape: native signature pass, band equi-join on the raw 4-member
    * struct, ReusedExchange on the self-join.
    */
  def minhashPairsOf(docs: DataFrame): DataFrame = {
    val bands = 4
    val rows = 4
    val n = bands * rows
    // Signature stage is the native single-pass [[graft.functions.MinHashSigs]]
    // expression: one tight loop per document computes all 16 family
    // members — no shingle explode, no 16-column aggregation, no shuffle
    // until the band join. (History of this stage: array-HOF form 3.4 s →
    // explode+groupBy 2.1 s → native expression. The family is the
    // DuckDB-replayable md5-48 + seed-derived XOR mix — see
    // [[graft.functions.Sketches.minhash]] — which makes THIS listing
    // hash-oracled, not just its recall companion.)
    //
    // The band key is the band's 4 RAW members as a struct, not a hash of
    // them: equally shuffle-able (one exchange on (band, bsig)), exactly
    // replayable in SQL, and immune to spurious band-hash collisions
    // polluting the candidate set.
    val sig = docs
      .select(col("doc_id"),
        graft.functions.GraftFunctions.minhashSigs(col("text"), 5, n).as("mh"))
      .select(col("doc_id"), col("mh"), posexplode(
        array((0 until bands).map(b =>
          struct((0 until rows).map(r =>
            col("mh")(b * rows + r).as(s"m$r")): _*)): _*)
      ).as(Seq("band", "bsig")))
    // alias-based self-join: both sides are the SAME canonical subplan, so
    // the shuffle on (band, bsig) is computed once and the second side is
    // a ReusedExchange — at 100 TB this halves the dominant stage
    val a = sig.as("a")
    val b = sig.as("b")
    // est-Jaccard per candidate: fixed-width unrolled equality sum — pure
    // codegen'd whens, no interpreted zip_with lambda (the pair stream is
    // the VOLUME here: under heavy duplication true pairs grow faster than
    // the corpus, so the per-pair verify must be branch-cheap)
    val nEq = (0 until n)
      .map(i => when(col("mh_a")(i) === col("mh_b")(i), 1).otherwise(0))
      .reduce(_ + _)
    a.join(b, col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.mh").as("mh_a"), col("b.mh").as("mh_b"))
      .groupBy("id_a", "id_b")
      .agg(max(nEq.cast("double") / n).as("est_sim"))
      .filter(col("est_sim") >= 0.7)
  }

  /** SimHash signatures over the dup corpus via the native single-pass
    * [[graft.functions.SimHash64]] expression: tokenization (space runs of
    * the normalized text), per-token md5-48 hashing, the 48 ±1 bit sums,
    * and the sign fold all happen in one loop per document — a narrow
    * codegen'd map, replacing the token-explode + per-bit aggregation
    * formulation (which materialized a row per token and a 48-int state
    * per doc in the hash aggregate). The md5-48 token draw replays in
    * DuckDB SQL, so the bucket listing itself is hash-oracled; the recall
    * oracle remains construction-guaranteed for any deterministic family.
    */
  def simhashSigs(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    // token-less docs are excluded (they have no signal — the native
    // expression would give them all signature 0 and bucket them together
    // as spurious "duplicates"). NOTE: this intentionally CHANGES
    // empty-doc handling relative to the explode form — split("") yields
    // [""], so the old form emitted one empty-string token and DID
    // produce a signature for whitespace-only docs; d_simhash row counts
    // moved with this filter (legal: rows-only check, and the recall
    // oracle is construction-guaranteed for any deterministic family)
    corpusWithDups(s, d)
      .filter(Text.normText(col("text")) =!= "")
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhash64(Text.normText(col("text"))).as("simhash"))
  }

  /** Connected components by iterative min-label propagation: each round
    * every node takes the minimum label among itself and its neighbors;
    * converges in O(graph diameter) rounds. `nodes` must have column `v`,
    * `edges` columns `src`/`dst` (one direction is enough).
    *
    * This is the missing middle of a dedup pipeline at scale: LSH emits
    * PAIRS, but deletion needs CLUSTERS (keep one canonical doc per
    * component). Each round is one distributed join + aggregate — no
    * driver-side graph. `localCheckpoint` truncates the lineage so plans
    * don't grow per round (the standard iterative-algorithm discipline);
    * the driver-side loop iterates ROUNDS (≤ diameter), never rows. For
    * graphs with whale components the two-phase large-star/small-star
    * variant (Kiveris et al., "Connected Components in MapReduce") drops in
    * with the same interface.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIter: Int = 50): DataFrame =
    ccImpl(Some(nodes), edges, maxIter, edgesMaterialized = false)

  /** Components of a graph given by edges alone (every node is an edge
    * endpoint — the d_span_clusters case, where singleton nodes cannot
    * exist by construction). Skips the separate node-set scan entirely:
    * the label initialization's groupBy over `bidir` visits every endpoint
    * as a `dst`, so one aggregate yields both the node list and the fused
    * first round. `edges` MUST already be materialized (spanEdges returns
    * a localCheckpoint) — the bidirectional expansion then stays cheap
    * lineage (two scans + union, no shuffle) instead of paying its own
    * checkpoint action.
    */
  def connectedComponentsFromEdges(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // The "edges MUST be materialized" contract is enforced, not just
    // documented: a lazy frame passed here would silently re-run its full
    // lineage (for spanEdges, the whole gram pass) once per CC round. A
    // localCheckpoint'd frame optimizes to a bare LogicalRDD scan — anything
    // else gets checkpointed defensively on entry.
    val materialized = edges.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.execution.LogicalRDD => edges
      case _ => edges.localCheckpoint()
    }
    ccImpl(None, materialized, maxIter, edgesMaterialized = true)
  }

  private def ccImpl(nodes: Option[DataFrame], edges: DataFrame, maxIter: Int,
      edgesMaterialized: Boolean): DataFrame = {
    // Materialized once: without the checkpoint every round would re-run the
    // whole edges lineage (for d_dup_clusters that is the crossJoin+Jaccard).
    // Callers that hand over an already-checkpointed edge set skip the
    // second materialization.
    val bidir0 = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val bidir = if (edgesMaterialized) bidir0 else bidir0.localCheckpoint()
    // Round 1 FUSED into initialization: min-label's first round always
    // yields lbl(v) = min(v, min neighbor), which one aggregate computes
    // directly — one shuffle instead of a full round's
    // join+agg+checkpoint cycle. With an explicit node set the left join
    // keeps isolated nodes (their own label); edge-derived graphs skip
    // even that join, since every node appears as a `dst` in `bidir`.
    val minNb = bidir.groupBy(col("dst").as("v")).agg(min("src").as("mnb"))
    val init = (nodes match {
      case Some(n) => n.select(col("v")).join(minNb, Seq("v"), "left")
        .select(col("v"),
          least(col("v"), coalesce(col("mnb"), col("v"))).as("lbl"))
      case None => minNb
        .select(col("v"), least(col("v"), col("mnb")).as("lbl"))
    }).localCheckpoint()
    // SELF-LOOP edges (v → v, from the materialized init table) make one
    // join+aggregate carry BOTH the neighbor-min and each node's own
    // previous label (`own` survives as min over the single self row), so
    // a round references `labels` exactly ONCE — no separate union branch,
    // no labels⋈prop comparison join: per round one broadcast-able join,
    // one shuffle, one checkpoint action.
    val withSelf = bidir.union(init.select(col("v").as("src"), col("v").as("dst")))
    // Pointer doubling (label-of-label shortcut): each round starts from
    // lbl'(v) = min(lbl(v), lbl(lbl(v))), so label chains collapse
    // geometrically and round count drops from O(diameter) toward
    // O(log diameter) (measured on the sf0.1 span graph: 6 rounds → 3).
    // Applied LAZILY over the just-checkpointed previous round — a
    // broadcast-able self-join on materialized data that fuses into the
    // consuming round's plan, costing no extra action and no recompute.
    // Correctness is unchanged: lbl(lbl(v)) is a node of the same
    // component with a smaller-or-equal id, labels stay monotone
    // decreasing, and the fixpoint (component minima) is identical; the
    // convergence test stays sound because a zero-change round proves
    // adjacent nodes agree everywhere, which already makes labels
    // component-constant and the shortcut a no-op.
    def shortcut(df: DataFrame): DataFrame = {
      val l2 = df.select(col("v").as("v2"), col("lbl").as("lbl2"))
      df.join(l2, df("lbl") === l2("v2"), "left")
        .select(df("v"),
          least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl"))
    }
    // Convergence detection is FOLDED into the round's materialization: a
    // long accumulator ticks inside the filter that the eager
    // localCheckpoint drives, so each round is exactly ONE Spark action
    // (previously a second `count()` action per round re-scanned the
    // checkpointed labels — pure stage-scheduling latency, ~2× the
    // per-round action count on tiny label tables). Accumulator semantics
    // under task retry can only OVER-count, which at worst schedules one
    // extra round that then observes zero changes — never a premature stop.
    val acc = init.sparkSession.sparkContext.longAccumulator("cc-changed")
    var labels = init
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val lab = shortcut(labels)
      acc.reset()
      val joined = withSelf.join(lab, withSelf("src") === lab("v"))
        .select(withSelf("dst").as("v"), col("lbl"),
          when(withSelf("src") === withSelf("dst"), col("lbl")).as("own"))
        .groupBy("v").agg(min("lbl").as("nlbl"), min("own").as("old"))
        .select(col("v"), col("nlbl"), (col("nlbl") < col("old")).as("ch"))
        .filter(new org.apache.spark.api.java.function.FilterFunction[org.apache.spark.sql.Row] {
          override def call(r: org.apache.spark.sql.Row): Boolean = {
            if (r.getBoolean(2)) acc.add(1L)
            true
          }
        })
        .localCheckpoint()
      changed = acc.value
      labels = joined.select(col("v"), col("nlbl").as("lbl"))
      it += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    labels.select(col("v"), col("lbl").as("root"))
  }

  /** Star edges of the span-provenance graph (the d_span_clusters input):
    * every duplicated char-k-gram (the shared 48-bit md5 draw of
    * d_dup_spans) contributes hub → member edges, hub = the gram group's
    * min doc_id. `mn` ALONE identifies dup grams — any row with
    * doc_id ≠ mn proves its group spans ≥ 2 distinct docs — so one
    * min-window pass suffices (the earlier mn/mx pair paid a second
    * window column for a condition the star filter already implies).
    * Edges stay LINEAR in the gram stream: a boilerplate gram in m docs
    * emits m−1 edges, never an m² clique (SpanClusterSpec plants a
    * hyper-frequent gram and pins this bound). The result is
    * localCheckpoint-materialized: both CC's bidir union and the node-set
    * derivation consume it without re-running the gram pass.
    */
  def spanEdges(s: org.apache.spark.sql.SparkSession, d: String, k: Int = 20,
      stratum: Option[Int] = None): DataFrame =
    spanEdgesPlan(s, d, k, stratum).localCheckpoint()

  /** The un-materialized spanEdges plan — separate so PlanSpec can assert
    * its shape (one gh window, native gram_fps, no per-row md5): the
    * checkpointed frame spanEdges returns exposes only an RDD scan.
    */
  private[queries] def spanEdgesPlan(
      s: org.apache.spark.sql.SparkSession, d: String, k: Int,
      stratum: Option[Int] = None): DataFrame = {
    val docs = corpusWithDups(s, d, stratum)
      .select(col("doc_id"), Text.normText(col("text")).as("nt"))
      .filter(length(col("nt")) >= k)
    val grams = docs.select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions.gramFps(col("nt"), k)))
      .select(col("doc_id"), col("col").as("gh"))
    grams
      .withColumn("mn", min("doc_id").over(Window.partitionBy("gh")))
      .filter(col("doc_id") =!= col("mn"))
      .select(col("mn").as("src"), col("doc_id").as("dst"))
      .distinct()
  }

  /** Planted ground-truth pairs: corpusWithDups duplicates every 5th doc as
    * ids (2k, 2k+1) — exact duplicates, Jaccard 1.0 by construction.
    */
  private def plantedPairs(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    t(s, d, "documents").filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") * 2).as("id_a"), (col("doc_id") * 2 + 1).as("id_b"))

  /** The blocked sorted-neighborhood candidate+verify stage — ONE body for
    * d_sorted_neighborhood (the listing) and d_mutual_best_match (the
    * reciprocal-best filter composed on top). Unordered output
    * (id_a < id_b, jaccard); see the d_sorted_neighborhood query comment
    * for the scale/key-design discussion.
    */
  private def snmPairs(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val w = 3
    val docs = corpusWithDups(s, d)
      .select(col("doc_id"), Text.normText(col("text")).as("nt"))
      .filter(length(col("nt")) >= 3)
    // gram sets are the native single-pass md5-48 `gram_fps` longs, not
    // string shingles: one codegen'd loop per doc (no interpreted
    // transform lambda), and the window then buffers 8-byte longs
    // instead of 5-char strings through its 3 lead columns — measured
    // 4.7 s → 2.0 s at sf0.1. Set semantics are unchanged (both engines
    // replay the identical draw; Jaccard compares only set sizes).
    val g = docs.select(col("doc_id"),
      substring(col("nt"), 1, 8).as("blk"), col("nt"),
      array_distinct(
        graft.functions.GraftFunctions.gramFps(col("nt"), 3)).as("gr"))
    val win = Window.partitionBy("blk").orderBy(col("nt"), col("doc_id"))
    val withLeads = g.select(col("doc_id"), col("gr"),
      array((1 to w).map(i =>
        struct(lead(col("doc_id"), i).over(win).as("id_b"),
          lead(col("gr"), i).over(win).as("gb"))): _*).as("nbrs"))
    val cand = withLeads
      .select(col("doc_id").as("ia"), col("gr").as("ga"),
        explode(col("nbrs")).as("nb"))
      .filter(col("nb.id_b").isNotNull)
      .select(col("ia"), col("ga"),
        col("nb.id_b").as("ib"), col("nb.gb").as("gb"))
    val inter = size(array_intersect(col("ga"), col("gb"))).cast("double")
    cand
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        round(inter / (size(col("ga")) + size(col("gb")) - inter), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.65)
  }

  /** Near-dup pair listing (d_minhash_lsh and its stratum twins). */
  private def minhashLsh(s: org.apache.spark.sql.SparkSession, d: String,
      stratum: Option[Int]): DataFrame =
    minhashPairs(s, d, stratum)
      .select(col("id_a"), col("id_b"), round(col("est_sim"), 4).as("est_sim"))
      .orderBy("id_a", "id_b")

  /** Cluster-size histogram of a component labelling (v, root). */
  private def clusterHistogram(cc: DataFrame): DataFrame =
    cc.groupBy("root").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"), min("root").as("min_root"))
      .orderBy("cluster_size")

  private def minhashClusters(s: org.apache.spark.sql.SparkSession, d: String,
      stratum: Option[Int]): DataFrame =
    clusterHistogram(connectedComponentsFromEdges(minhashPairs(s, d, stratum)
      .select(col("id_a").as("src"), col("id_b").as("dst"))))

  // Every clustered doc is an edge ENDPOINT by construction — a dup-gram
  // group's hub (min doc) appears as src of its star edges and every other
  // member as dst — so no separate node set exists at all:
  // connectedComponentsFromEdges derives it inside the label
  // initialization's aggregate. (A separate nodes branch re-ran the entire
  // gram pass + window a second time: 5.9 s → this shape materializes the
  // gram window exactly once.)
  private def spanClusters(s: org.apache.spark.sql.SparkSession, d: String,
      stratum: Option[Int]): DataFrame =
    clusterHistogram(connectedComponentsFromEdges(
      spanEdges(s, d, stratum = stratum)))

  val queries: Map[String, Q] = Map(
    // Exact dedup: first-per-fingerprint via min(doc_id) groupBy (scales as
    // a single hash aggregation; no window needed).
    "d_exact_dedup" -> ((s, d) =>
      corpusWithDups(s, d)
        .groupBy(md5(Text.normText(col("text"))).as("fp"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .groupBy("n_copies")
        .agg(count(lit(1)).as("n_groups"), min("keep_id").as("min_keep"))
        .orderBy("n_copies")),

    // Oracled BATCH MIRROR of streaming.EventStreams.docDedupStream (the
    // live-ingest content dedup): arrival order is stood in by doc_id (the
    // deterministic event-time proxy), so the stream's first-arrival keep
    // rule is exactly "doc_id = min(doc_id) within the content
    // fingerprint" — the same md5-of-normalized-text draw both engines
    // share. Output: per-source ingest accounting (docs seen / kept /
    // dropped-as-duplicate), the ledger a crawl-ingest pipeline reports.
    // One window + one partial-agg'd groupBy; no driver-side state.
    "d_stream_dedup_mirror" -> ((s, d) => {
      val fp = corpusWithDups(s, d)
        .select(col("doc_id"), col("source"),
          md5(Text.normText(col("text"))).as("fp"))
      val w = Window.partitionBy("fp")
      fp.withColumn("keep", col("doc_id") === min("doc_id").over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).cast("bigint").as("n_kept"),
          sum(when(col("keep"), 0L).otherwise(1L)).cast("bigint").as("n_dropped"))
        .orderBy("source")
    }),

    // Near-dup pair listing — fully hash-oracled: the md5-48 + XOR family
    // replays in DuckDB SQL (see oracles below), so the LISTING itself is
    // value-checked, with d_minhash_recall as the family-independent
    // recall companion.
    "d_minhash_lsh" -> ((s, d) => minhashLsh(s, d, None)),

    // The COMPLETE scalable near-dup pipeline in one query: LSH candidate
    // pairs (bucketed band equi-join, never O(n²)) → distributed connected
    // components → cluster-size histogram. This is the composition a
    // 100 TB dedup run actually executes (d_dup_clusters' exact-Jaccard
    // pair stage swapped for the LSH stage), and with the md5-48+XOR
    // family it is hash-oracled END TO END — the DuckDB replay recomputes
    // the same pairs and the same unrolled label-min components.
    // Singleton docs (no near-dup) are out of scope by construction: the
    // histogram describes the DUPLICATED part of the corpus.
    "d_minhash_clusters" -> ((s, d) => minhashClusters(s, d, None)),

    // STRATUM-ORACLED twins of the two heaviest LSH compositions: the
    // identical operator over the 1-in-41 md5 sub-corpus
    // (Tables.stratum, both engines filter the base ids the same way).
    // Purpose: at sf10 the FULL d_minhash_lsh/_clusters DuckDB replays hit
    // single-node resource walls (77 GB spill class — SCALE_SF3.md), so
    // the full variants' 100× correctness rested on sf1/sf3 hashes; these
    // keep the replay at ~sf0.25 volume at sf10 and hash-check the SAME
    // code path (same expressions, same band join, same CC) at 100× data.
    // NOTE (small-SF triviality): at the base correctness-gate SF the
    // 1-in-41 draw keeps only ~12 of 500 base docs, so these twins emit
    // ~1 row and exercise almost none of the band-join/CC machinery — a
    // green base-SF row here pins the STRATUM PLUMBING, not the pipeline;
    // full-pipeline coverage at this SF comes from the unstratified
    // variants, and the twins only become load-bearing on the scaled
    // corpora (sf10/sf30) they were built for.
    "d_minhash_lsh_s41" -> ((s, d) => minhashLsh(s, d, Some(41))),

    // Second-prime cross-check of the stratum device itself (1-in-37):
    // if the 41-draw's interaction with any id-pattern modulus hid a bias
    // class, an independent prime over the same operator would expose it;
    // both primes hash-matching at every tested SF rules that family out.
    // Same code path, one parameter changed.
    "d_minhash_lsh_s37" -> ((s, d) => minhashLsh(s, d, Some(37))),

    "d_minhash_clusters_s41" -> ((s, d) => minhashClusters(s, d, Some(41))),

    // SELF-VERIFYING: recall of the planted exact-dup pairs. An exact
    // duplicate has an identical shingle set → identical minhash signature →
    // identical band signatures → guaranteed candidate with est_sim = 1.0,
    // so recall is deterministically 1.0 for ANY corpus and ANY hash — which
    // makes this fully DuckDB-oracle-checkable despite LSH being
    // hash-specific.
    "d_minhash_recall" -> ((s, d) => {
      val found = minhashPairs(s, d)
      plantedPairs(s, d).join(found, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_truth"), count(col("est_sim")).as("n_found"))
        .select(col("n_truth"), col("n_found"),
          plantedRecall(col("n_found"), col("n_truth")).as("recall"),
          (col("n_found") === col("n_truth")).as("pass"))
    }),

    // SimHash: near-dups bucket by the high 16 bits of the 48-bit
    // signature. Fully hash-oracled (the md5-48 token draw replays in
    // DuckDB — see oracles below); d_simhash_recall remains the
    // family-independent companion.
    "d_simhash" -> ((s, d) =>
      simhashSigs(s, d).withColumn("bucket", shiftright(col("simhash"), 32))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") > 1)
        .orderBy("bucket")),

    // SELF-VERIFYING: planted exact dups tokenize identically → identical
    // bit sums → identical signature, so signature-equality recall is
    // deterministically 1.0 → oracle-checkable.
    "d_simhash_recall" -> ((s, d) => {
      val sig = simhashSigs(s, d)
      // LEFT joins: a doc that produces no tokens (and so no signature) must
      // count as a MISSED pair, not silently drop out of n_truth
      plantedPairs(s, d)
        .join(sig.select(col("doc_id").as("id_a"), col("simhash").as("sig_a")),
          Seq("id_a"), "left")
        .join(sig.select(col("doc_id").as("id_b"), col("simhash").as("sig_b")),
          Seq("id_b"), "left")
        .agg(count(lit(1)).as("n_truth"),
          // an empty corpus has no pair to sum: 0 found, not NULL
          coalesce(sum(when(col("sig_a") === col("sig_b"), 1L).otherwise(0L)), lit(0L))
            .as("n_found"))
        .select(col("n_truth"), col("n_found"),
          plantedRecall(col("n_found"), col("n_truth")).as("recall"),
          (col("n_found") === col("n_truth")).as("pass"))
    }),

    // Embedding-cosine near-dup: pairs above a cosine threshold, via the
    // native codegen'd cosine_sim expression. Bounded here to a 300-vector
    // candidate set for the oracle; the scale path feeds LSH-bucket
    // candidates (s_ann_lsh_buckets) into the same verify expression.
    "d_embed_neardup" -> ((s, d) => {
      val emb = t(s, d, "embeddings").filter(col("vec_id") < 300)
        .select(col("vec_id"), col("embedding"))
      val a = emb.as("a")
      val b = emb.as("b")
      a.join(b, col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          round(graft.functions.GraftFunctions.cosineSim(
            col("a.embedding"), col("b.embedding")), 4).as("cos"))
        .filter(col("cos") >= 0.3)
        .orderBy("id_a", "id_b")
    }),

    // Near-dup CLUSTERS: exact 3-gram Jaccard pairs (> 0.65, bounded
    // candidate set for the oracle; at scale the LSH pair stream feeds the
    // same loop) → connected components → cluster-size distribution. The
    // doc to KEEP per cluster is its root (min doc_id) — the canonical-doc
    // selection rule of d_exact_dedup extended to near-dups.
    "d_dup_clusters" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"), Dedup.shingles("text", 3).as("g"))
      val a = docs.select(col("doc_id").as("id_a"), col("g").as("ga"))
      val b = docs.select(col("doc_id").as("id_b"), col("g").as("gb"))
      val inter = size(array_intersect(col("ga"), col("gb")))
      val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(inter.cast("double") /
            (size(col("ga")) + size(col("gb")) - inter), 4).as("jaccard"))
        .filter(col("jaccard") > 0.65)
      clusterHistogram(connectedComponents(
        docs.select(col("doc_id").as("v")),
        pairs.select(col("id_a").as("src"), col("id_b").as("dst"))))
    }),

    // Exact 3-gram Jaccard over a bounded candidate set (doc_id < 30 pairs).
    "d_ngram_jaccard" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 30)
        .select(col("doc_id"), Dedup.shingles("text", 3).as("g"))
      val a = docs.select(col("doc_id").as("id_a"), col("g").as("ga"))
      val b = docs.select(col("doc_id").as("id_b"), col("g").as("gb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(
            size(array_intersect(col("ga"), col("gb"))).cast("double") /
              (size(col("ga")) + size(col("gb")) - size(array_intersect(col("ga"), col("gb")))),
            4).as("jaccard"))
        .filter(col("jaccard") > 0.5)
        .orderBy("id_a", "id_b")
    }),

    // Asymmetric containment C(A→B) = |A∩B| / |A| — the measure Jaccard
    // MISSES: a short document fully embedded in a long one (quotes,
    // boilerplate inclusion, chunked re-posts) scores low Jaccard but
    // containment ≈ 1. A containment pair is planted (doc 3's full text
    // inside a longer synthetic host) and must surface. Same bounded
    // verification set as d_ngram_jaccard; at scale candidates come from
    // LSH and only the verify expression changes.
    "d_containment" -> ((s, d) => {
      val base = t(s, d, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"), col("text"))
      val host = base.filter(col("doc_id") === 3)
        .select(lit(9991L).as("doc_id"),
          concat(lit("prefix words before "), col("text"),
            lit(" and trailing commentary after")).as("text"))
      val g = base.unionByName(host)
        .select(col("doc_id"), Dedup.shingles("text", 3).as("g"))
      val a = g.select(col("doc_id").as("id_a"), col("g").as("ga"))
      val b = g.select(col("doc_id").as("id_b"), col("g").as("gb"))
      a.crossJoin(b).filter(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(size(array_intersect(col("ga"), col("gb"))).cast("double") /
            size(col("ga")), 4).as("containment"))
        .filter(col("containment") >= 0.9)
        .orderBy("id_a", "id_b")
    }),

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    // algorithm): char-8-gram hashes of the normalized text, then the MIN
    // hash of every 4-hash window, distinct — guarantees any match of
    // length ≥ k+w−1 shares a fingerprint while keeping O(len/w)
    // fingerprints per doc. Everything is per-row array HOFs over md5
    // draws both engines share (no UDF, no shuffle before the final
    // aggregate); the planted exact dups must agree on their ENTIRE
    // fingerprint set, so full-overlap pair recall is 1.0 by
    // construction — which the oracle pins, proving the whole
    // gram→hash→winnow chain byte-identical cross-engine.
    "d_winnow_fingerprints" -> ((s, d) => {
      val k = 8
      val w = 4
      val docs = Dedup.corpusWithDups(s, d)
        .select(col("doc_id"), Text.normText(col("text")).as("nt"))
        .filter(length(col("nt")) >= k + w - 1)
      // Native single-pass expression (the `minhash_sigs` precedent): the
      // HOF formulation recomputed each gram's md5 inside every one of the
      // w windows covering it — 4× redundant md5 in interpreted lambda
      // frames, measured 17 s at sf0.1; a two-projection HOF rewrite
      // (gram-hash array, then array_min(slice(...))) still paid ~5.6 s in
      // HOF interpretation. `winnow_fps` draws the SAME hash sequence
      // (md5 first 48 bits per char-k-gram, w-window min, distinct in
      // first-occurrence order) in one codegen'd loop — values are
      // bit-identical to the SQL draw, proven by SketchesSpec parity.
      val fps = docs.select(col("doc_id"),
        graft.functions.GraftFunctions.winnowFps(col("nt"), k, w).as("fps"))
      val planted = fps.filter(col("doc_id") % 10 === 1)
        .select((col("doc_id") - 1).as("doc_id"), col("fps").as("fps_b"))
      val pairs = fps.join(planted, "doc_id")
        .select((size(array_intersect(col("fps"), col("fps_b"))) ===
          size(col("fps")) &&
          size(col("fps")) === size(col("fps_b"))).as("full_overlap"))
      val stats = fps.agg(count(lit(1)).as("n_docs"),
        round(avg(size(col("fps"))), 4).as("avg_n_fps"))
      val recall = pairs.agg(count(lit(1)).as("n_planted_pairs"),
        sum(when(col("full_overlap"), 1L).otherwise(0L)).cast("bigint")
          .as("n_full_overlap"))
      stats.crossJoin(recall)
        .select(col("n_docs"), col("avg_n_fps"), col("n_planted_pairs"),
          col("n_full_overlap"),
          round(col("n_full_overlap") / col("n_planted_pairs"), 4)
            .as("recall"))
    }),

    // Exact duplicated-substring spans (the Lee et al. 2022 "Deduplicating
    // Training Data" primitive): every char-20-gram of the normalized text
    // is hashed (the shared 48-bit md5 draw), grams occurring in ≥2
    // distinct docs are the duplicated anchors, and per doc the anchor
    // positions merge into MAXIMAL spans (gaps-and-islands: a new span
    // starts when the next anchor no longer overlaps/adjoins the previous
    // gram's 20-char cover). Output per doc: span count, duplicated chars,
    // duplicated fraction — the per-document "how much of this text exists
    // elsewhere" signal span-level dedup filters on. All-integer after the
    // hash, so cross-engine exact. Scale shape: the gram stream is
    // O(total chars) but partial-aggregates map-side to unique gram
    // hashes; the position join is against the (data-dependent, small)
    // duplicated-gram set — unhinted, AQE picks broadcast when it fits;
    // the island window partitions by doc_id (never a global sort). At
    // 100 TB the standard refinement is sharding gram hashes by prefix —
    // the plan shape is unchanged. The gram stage is the native `gram_fps`
    // expression (one codegen'd md5 pass per doc; GramFpsParitySpec pins
    // it bit-identical to the SQL md5/conv draw) posexploded to (i, gh) —
    // the previous sequence-explode carried the FULL text into every
    // per-character row and ran interpreted md5/conv per row (19.1 s at
    // sf0.1; this shape ~2 s, same oracle hash).
    "d_dup_spans" -> ((s, d) => {
      val k = 20
      val docs = Dedup.corpusWithDups(s, d)
        .select(col("doc_id"), Text.normText(col("text")).as("nt"))
        .filter(length(col("nt")) >= k)
      val grams = docs.select(col("doc_id"),
          length(col("nt")).cast("bigint").as("len"),
          posexplode(graft.functions.GraftFunctions.gramFps(col("nt"), k)))
        .select(col("doc_id"), col("len"),
          col("pos").as("i"), col("col").as("gh"))
      // "gram occurs in ≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id)
      // within the gram's hash group — ONE window over gh (hash-partition
      // + partition-local sort, both scale-free) instead of the previous
      // countDistinct aggregate + semi-join, which expanded into two
      // shuffles over a ~unique-per-row key AND re-ran the gram pass on
      // the join probe side (measured: 4.7 s → 1.6 s at sf0.1)
      val wg = Window.partitionBy("gh")
      val pos = grams
        .withColumn("mn", min("doc_id").over(wg))
        .withColumn("mx", max("doc_id").over(wg))
        .filter(col("mn") =!= col("mx"))
        .select("doc_id", "len", "i", "gh")
      val w = Window.partitionBy("doc_id").orderBy("i")
      val spans = pos
        .withColumn("brk",
          when(col("i") - lag("i", 1).over(w) > k, 1L).otherwise(0L))
        .withColumn("isl", sum("brk").over(w))
        .groupBy("doc_id", "isl")
        .agg(first("len").as("len"),
          (max("i") - min("i") + k).cast("bigint").as("chars"))
      spans.groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum("chars").cast("bigint").as("dup_chars"),
          first("len").as("len"))
        .select(col("doc_id"), col("n_spans"), col("dup_chars"), col("len"),
          round(col("dup_chars") / col("len"), 4).as("dup_frac"))
        .orderBy("doc_id")
    }),

    // Cross-doc span PROVENANCE clustering — the composition on top of
    // d_dup_spans: every doc pair sharing a duplicated 20-gram descends
    // from common source material, and transitive sharing (A~B, B~C)
    // groups docs into provenance clusters even when A and C share no
    // gram directly. Edges come STAR-SHAPED from each dup gram's group
    // (min-doc → member), never as per-gram cliques — a boilerplate gram
    // in m docs emits m−1 edges, not m², so the edge set stays linear in
    // the gram stream at any scale. Clustering is the shared
    // connectedComponents (distributed label-min, no driver graph).
    // Output is the cluster-size histogram (the d_dup_clusters shape):
    // deterministic, integer-only, cross-engine exact.
    "d_span_clusters" -> ((s, d) => spanClusters(s, d, None)),

    // Stratum-oracled twin of d_span_clusters (see the *_s41 pair above):
    // same gram pass, same star edges, same CC — over the 1-in-41 md5
    // sub-corpus, so the unrolled label-min SQL replay stays feasible at
    // sf10 where the full replay spilled 77 GB.
    "d_span_clusters_s41" -> ((s, d) => spanClusters(s, d, Some(41))),

    // Blocked SORTED-NEIGHBORHOOD near-dup (Hernández & Stolfo's SNM, the
    // record-linkage classic): sort docs by a blocking key (normalized-text
    // prefix), compare each doc with only its w = 3 successors in sort
    // order, verify candidates by exact trigram Jaccard ≥ 0.65. The
    // hash-free complement to LSH banding: it needs no signature family
    // (catches prefix-preserving edits deterministically) and its candidate
    // count is exactly N·w.
    //
    // Scale shape: the sort is WINDOWED PER BLOCK (the first 8 chars of the
    // normalized text) — a key-partitioned window, never a global
    // single-partition sort — and the per-row state carried through lead()
    // is just (doc_id, gram set). Pairs straddling a block boundary are out
    // of scope by construction; the standard remedy (multi-pass SNM with a
    // second independent key) composes by unioning a second pass's pairs.
    // Planted exact dups share the whole normalized text → same block,
    // adjacent in sort order → guaranteed candidates at Jaccard 1.0.
    //
    // Key-design note for a real crawl: a text prefix is only a good SNM
    // key when prefixes are discriminative. A corpus where 30% of pages
    // open with the same boilerplate ("<!doctype html…") would put 30% of
    // rows in ONE window partition — the classic SNM key-skew failure,
    // cured by key choice (e.g. the doc's rarest-token fingerprint as
    // prefix), not by the operator: the window stays key-partitioned and
    // the N·w candidate bound holds under ANY key. The synthetic corpus's
    // prefixes are word-random, so blocks stay small here (and the sf30
    // perturbed corpus splices a hex code into position 8, exercising a
    // different block distribution with the same plan).
    "d_sorted_neighborhood" -> ((s, d) =>
      snmPairs(s, d).orderBy("id_a", "id_b")),

    // RECIPROCAL best match — the entity-resolution disambiguation step
    // after any candidate generator: each record's best-scoring partner is
    // a per-key argmax, and a pair survives only if the choice is MUTUAL
    // (best(a) = b AND best(b) = a) — the standard guard against one hub
    // record absorbing a whole block. Composed over the SNM candidate
    // stage (one body, snmPairs): two partial-agg'd argmax passes over the
    // symmetrized pair stream + one self-join on the ≤|V|-row best table —
    // never touches the pair space twice. Argmax tie-break is
    // (jaccard DESC, partner id ASC) via the max-of-struct device with a
    // negated partner, identical in the DuckDB replay.
    "d_mutual_best_match" -> ((s, d) => {
      val p = snmPairs(s, d)
      val sym = p.select(col("id_a").as("src"), col("id_b").as("dst"), col("jaccard"))
        .unionByName(
          p.select(col("id_b").as("src"), col("id_a").as("dst"), col("jaccard")))
      val best = sym.groupBy("src")
        .agg(max(struct(col("jaccard"), (-col("dst")).as("nd"))).as("b"))
        .select(col("src"), (-col("b.nd")).as("bd"),
          col("b.jaccard").as("bj"))
      val x = best.as("x")
      val y = best.select(col("src").as("ys"), col("bd").as("ybd"))
      x.join(y, col("x.src") === col("ybd") && col("x.bd") === col("ys"))
        .filter(col("x.src") < col("x.bd"))
        .select(col("x.src").as("id_a"), col("x.bd").as("id_b"),
          col("x.bj").as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // Incremental crawl SNAPSHOT DIFF — the recurring production question
    // "what changed between yesterday's crawl and today's?": two snapshot
    // relations full-outer-joined on the stable crawl key (doc_id stands in
    // for URL), rows classified added / removed / changed / unchanged by
    // comparing content fingerprints (md5 of normalized text — the
    // d_exact_dedup draw). The synthetic snapshots drop disjoint id strata
    // (%7 = 1 absent from old, %7 = 2 absent from new) and revise %7 = 3's
    // text, so every class is populated at any SF.
    //
    // Scale shape: one hash-partitioned FULL OUTER equi-join on the crawl
    // key + one partial-agg'd groupBy over the 4-row class table. The two
    // snapshot sides are kept as separate relations deliberately — in
    // production they are distinct crawl partitions, and the diff operator
    // IS the join; collapsing them into one scan would exploit a
    // corpus-generator artifact (both snapshots deriving from one table).
    "d_snapshot_diff" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val old = docs.filter(col("doc_id") % 7 =!= 1)
        .select(col("doc_id"), md5(Text.normText(col("text"))).as("fp_old"))
      val nw = docs.filter(col("doc_id") % 7 =!= 2)
        .select(col("doc_id"),
          md5(Text.normText(
            when(col("doc_id") % 7 === 3, concat(col("text"), lit(" rev2")))
              .otherwise(col("text")))).as("fp_new"))
      old.join(nw, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("fp_old").isNull, "added")
            .when(col("fp_new").isNull, "removed")
            .when(col("fp_old") =!= col("fp_new"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("status")
    })
  )

  /** d_minhash_lsh replay: the shared pair CTEs (Tables.minhashPairCtesSql)
    * over the dup corpus, est_sim = the equal-member fraction at 4 dp —
    * value-for-value the Spark plan's semantics. `dups` carries `lang`
    * because the streaming near-dup ledger replays over the same CTEs.
    */
  private def minhashLshSql(stratum: Option[Int]): String =
      s"""WITH dups AS MATERIALIZED (${dupsSql("text, lang", stratum)}),
        |${minhashPairCtesSql("dups")},
        |pairs AS (SELECT id_a, id_b, round(est, 4) AS est_sim FROM near)
        |SELECT id_a, id_b, est_sim FROM pairs
        |WHERE est_sim >= 0.7 ORDER BY id_a, id_b""".stripMargin

  /** Cluster-size histogram over the label-min replay of the edge CTEs
    * `edges` (which define `p(src, dst)`); `name` is the entry the
    * convergence guard names. */
  private def ccHistogramSql(name: String, edges: String): String =
      s"""WITH $edges,
        |${labelMinCcSql(name)},
        |cs AS (SELECT lbl AS root, count(*) AS cluster_size FROM d6 GROUP BY lbl)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |       count(*) AS n_clusters,
        |       min(root) + (SELECT guard FROM chk) AS min_root
        |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  /** d_minhash_clusters replay — the LSH pairs feeding the unrolled
    * label-min component rounds. */
  private def minhashClustersSql(stratum: Option[Int]): String =
    ccHistogramSql("d_minhash_clusters",
      s"""dups AS MATERIALIZED (${dupsSql("text, lang", stratum)}),
        |${minhashPairCtesSql("dups")},
        |p AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM near WHERE est >= 0.7)""".stripMargin)

  /** d_span_clusters replay: the d_dup_spans gram draw, star edges per dup
    * gram (min-doc → member), then the label-min rounds. */
  private def spanClustersSql(stratum: Option[Int]): String =
    ccHistogramSql("d_span_clusters",
      s"""dups AS (${dupsSql("text", stratum)}),
        |norm AS (
        |  SELECT doc_id, ${normTextSql("text")} AS nt
        |  FROM dups),
        |g AS (
        |  SELECT doc_id, unnest(ghs) AS gh FROM (
        |    SELECT doc_id,
        |      list_transform(range(0, length(nt) - 19),
        |        i -> CAST('0x' || substr(md5(substr(nt, CAST(i AS INT) + 1, 20)),
        |          1, 12) AS BIGINT)) AS ghs
        |    FROM norm WHERE length(nt) >= 20)),
        |dupg AS (
        |  SELECT gh, min(doc_id) AS mn FROM g GROUP BY gh
        |  HAVING min(doc_id) <> max(doc_id)),
        |p AS MATERIALIZED (
        |  SELECT DISTINCT dupg.mn AS src, g.doc_id AS dst
        |  FROM g JOIN dupg USING (gh) WHERE g.doc_id <> dupg.mn)""".stripMargin)

  /** The sorted-neighborhood candidate+verify CTEs (snmPairs in SQL):
    * lead(i) over (blk ORDER BY nt, doc_id) ≡ the row_number self-join on
    * rank distance 1..3 — both engines order identically (nt then the
    * collision-free doc_id), and the trigram sets are the identical
    * md5-48 gram_fps draw. `j` holds every candidate with its jaccard. */
  private val snmCtesSql: String =
      s"""dups AS (${dupsSql("text")}),
        |n AS (
        |  SELECT doc_id,
        |    ${normTextSql("text")} AS nt
        |  FROM dups),
        |g AS (
        |  SELECT doc_id, substr(nt, 1, 8) AS blk, nt,
        |    list_distinct(list_transform(range(0, greatest(length(nt) - 2, 0)),
        |      i -> CAST('0x' || substr(md5(substr(nt, CAST(i AS INT) + 1, 3)),
        |        1, 12) AS BIGINT))) AS gr,
        |    row_number() OVER (PARTITION BY substr(nt, 1, 8)
        |                       ORDER BY nt, doc_id) AS rn
        |  FROM n WHERE length(nt) >= 3),
        |cand AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, a.gr AS ga, b.gr AS gb
        |  FROM g a JOIN g b
        |    ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 3),
        |j AS (
        |  SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
        |    round(CAST(len(list_intersect(ga, gb)) AS DOUBLE) /
        |      (len(ga) + len(gb) - len(list_intersect(ga, gb))), 4) AS jaccard
        |  FROM cand)""".stripMargin

  /** Recall of the planted exact-dup pairs is 1.0 by construction
    * (identical text → identical signatures), so the expected output is
    * plain SQL over `documents`. */
  private val plantedRecallSql: String =
      """SELECT CAST(count(*) AS BIGINT) AS n_truth,
        |       CAST(count(*) AS BIGINT) AS n_found,
        |       CAST(1.0 AS DOUBLE) AS recall,
        |       CAST(1 AS BOOLEAN) AS pass
        |FROM documents WHERE doc_id % 5 = 0""".stripMargin

  val oracles: Map[String, String] = Map(
    "d_minhash_recall" -> plantedRecallSql,
    "d_simhash_recall" -> plantedRecallSql,
    // Full replay of the minhash LSH listing: the same md5-48 gram draw as
    // winnow_fps/gram_fps, the same seed-42 splitmix XOR constants
    // (interpolated from Sketches.minhashXorConstants so Scala and SQL can
    // never drift), band join on the 4 raw members, est_sim = equal-member
    // fraction — value-for-value the Spark plan's semantics.
    "d_minhash_lsh" -> minhashLshSql(None),
    "d_minhash_lsh_s41" -> minhashLshSql(Some(41)),
    "d_minhash_lsh_s37" -> minhashLshSql(Some(37)),
    "d_minhash_clusters" -> minhashClustersSql(None),
    "d_minhash_clusters_s41" -> minhashClustersSql(Some(41)),
    // Full replay of the simhash bucket listing: one md5-48 draw per
    // token of the normalized text, 48 ±1 bit sums, sign fold, top-16-bit
    // bucket — the exact Sketches.simhash arithmetic in SQL.
    "d_simhash" ->
      s"""WITH dups AS MATERIALIZED (${dupsSql("text")}),
        |norm AS MATERIALIZED (
        |  SELECT doc_id,
        |    ${normTextSql("text")} AS nt
        |  FROM dups),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(nt, ' ')) AS tok
        |  FROM norm WHERE nt <> ''),
        |th AS MATERIALIZED (
        |  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) AS h
        |  FROM toks WHERE tok <> ''),
        |bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN ((h >> CAST(b AS INT)) & 1) = 1 THEN 1 ELSE -1 END) AS cnt
        |  FROM th CROSS JOIN range(0, 48) t(b) GROUP BY 1, 2),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN cnt > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
        |        ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT CAST(simhash >> 32 AS BIGINT) AS bucket, count(*) AS n_docs
        |FROM sig GROUP BY 1 HAVING count(*) > 1 ORDER BY bucket""".stripMargin,
    "d_stream_dedup_mirror" ->
      s"""WITH dups AS (${dupsSql("text, source")}),
        |fp AS (
        |  SELECT doc_id, source,
        |    md5(${normTextSql("text")}) AS fp
        |  FROM dups),
        |k AS (
        |  SELECT source,
        |    doc_id = min(doc_id) OVER (PARTITION BY fp) AS keep
        |  FROM fp)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
    "d_exact_dedup" ->
      s"""WITH dups AS (${dupsSql("text, lang, source, n_chars")}),
        |grp AS (
        |  SELECT md5(${normTextSql("text")}) AS fp,
        |         min(doc_id) AS keep_id, count(*) AS n_copies
        |  FROM dups GROUP BY 1)
        |SELECT n_copies, count(*) AS n_groups, min(keep_id) AS min_keep
        |FROM grp GROUP BY n_copies ORDER BY n_copies""".stripMargin,
    "d_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 300)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.v", "b.v", 4)} AS cos
        |FROM e a, e b WHERE a.vec_id < b.vec_id
        |  AND ${cosSql("a.v", "b.v", 4)} >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    "d_dup_clusters" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
        |    i -> substring(text, CAST(i AS INT), 3))) AS gr
        |  FROM documents WHERE doc_id < 60),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM g a, g b WHERE a.doc_id < b.doc_id
        |   AND round(CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) /
        |       (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))), 4) > 0.65),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
        |n AS (SELECT doc_id AS v FROM documents WHERE doc_id < 60),
        |comp AS (
        |  WITH RECURSIVE r(v, lbl) AS (
        |    SELECT v, v FROM n
        |    UNION
        |    SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.v)
        |  SELECT v, min(lbl) AS root FROM r GROUP BY v),
        |cs AS (SELECT root, count(*) AS cluster_size FROM comp GROUP BY root)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |       count(*) AS n_clusters, min(root) AS min_root
        |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    "d_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
        |                  i -> substring(text, CAST(i AS INT), 3))) AS gr
        |  FROM documents WHERE doc_id < 30)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) /
        |        (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))), 4) AS jaccard
        |FROM g a, g b WHERE a.doc_id < b.doc_id
        |  AND round(CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) /
        |        (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))), 4) > 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "d_containment" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
        |host AS (SELECT CAST(9991 AS BIGINT) AS doc_id,
        |    'prefix words before ' || text || ' and trailing commentary after' AS text
        |  FROM base WHERE doc_id = 3),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM host),
        |g AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
        |                  i -> substring(text, CAST(i AS INT), 3))) AS gr
        |  FROM u)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) / len(a.gr), 4) AS containment
        |FROM g a, g b WHERE a.doc_id <> b.doc_id
        |  AND round(CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) / len(a.gr), 4) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    // identical md5 gram draws; only set sizes/intersections compared, so
    // list_distinct order differences can't matter
    "d_winnow_fingerprints" ->
      s"""WITH dups AS MATERIALIZED (${dupsSql("text")}),
        |norm AS MATERIALIZED (
        |  SELECT doc_id,
        |    ${normTextSql("text")} AS nt
        |  FROM dups),
        |fps AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(0, length(nt) - 10),
        |      j -> list_min(list_transform(range(j, j + 4),
        |        i -> CAST('0x' || substr(md5(substr(nt, CAST(i AS INT) + 1, 8)),
        |          1, 12) AS BIGINT))))) AS fps
        |  FROM norm WHERE length(nt) >= 11),
        |planted AS (
        |  SELECT doc_id - 1 AS doc_id, fps AS fps_b FROM fps
        |  WHERE doc_id % 10 = 1),
        |pairs AS (
        |  SELECT (len(list_intersect(f.fps, p.fps_b)) = len(f.fps)
        |          AND len(f.fps) = len(p.fps_b)) AS full_overlap
        |  FROM fps f JOIN planted p USING (doc_id)),
        |stats AS (
        |  SELECT count(*) AS n_docs, round(avg(len(fps)), 4) AS avg_n_fps
        |  FROM fps),
        |recall AS (
        |  SELECT count(*) AS n_planted_pairs,
        |    CAST(sum(CASE WHEN full_overlap THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_full_overlap
        |  FROM pairs)
        |SELECT n_docs, avg_n_fps, n_planted_pairs, n_full_overlap,
        |  round(CAST(n_full_overlap AS DOUBLE) / n_planted_pairs, 4) AS recall
        |FROM stats CROSS JOIN recall""".stripMargin,
    // identical md5 gram draw; gram positions come from an unnested
    // struct list (never re-carrying nt per gram row), then the same
    // gaps-and-islands merge — all-integer after the hash
    "d_dup_spans" ->
      s"""WITH dups AS MATERIALIZED (${dupsSql("text")}),
        |norm AS MATERIALIZED (
        |  SELECT doc_id,
        |    ${normTextSql("text")} AS nt
        |  FROM dups),
        |g AS MATERIALIZED (
        |  SELECT doc_id, len, unnest(ghs) AS u FROM (
        |    SELECT doc_id, CAST(length(nt) AS BIGINT) AS len,
        |      list_transform(range(0, length(nt) - 19),
        |        i -> struct_pack(i := i,
        |          gh := CAST('0x' || substr(md5(substr(nt, CAST(i AS INT) + 1, 20)),
        |            1, 12) AS BIGINT))) AS ghs
        |    FROM norm WHERE length(nt) >= 20)),
        |dupg AS (
        |  SELECT gh FROM (
        |    SELECT u.gh AS gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
        |  WHERE nd >= 2),
        |pos AS (
        |  SELECT doc_id, len, u.i AS i FROM g JOIN dupg ON u.gh = dupg.gh),
        |brk AS (
        |  SELECT doc_id, len, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 20
        |         THEN 1 ELSE 0 END AS brk
        |  FROM pos),
        |isl AS (
        |  SELECT doc_id, len, i,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS isl
        |  FROM brk),
        |span AS (
        |  SELECT doc_id, isl, min(len) AS len,
        |    max(i) - min(i) + 20 AS chars
        |  FROM isl GROUP BY doc_id, isl)
        |SELECT doc_id, count(*) AS n_spans,
        |  CAST(sum(chars) AS BIGINT) AS dup_chars,
        |  min(len) AS len,
        |  round(CAST(sum(chars) AS DOUBLE) / min(len), 4) AS dup_frac
        |FROM span GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same gram draw as d_dup_spans; star edges per dup gram (min-doc →
    // member), label-min rounds (Tables.labelMinCcSql) replay
    // connectedComponents exactly. Memory-lean (the sf1 lesson): the
    // first draft MATERIALIZED the full gram stream and ran a min/max
    // WINDOW over it — at sf1 (~300 M gram rows) DuckDB's window
    // materialization asked for 32 GiB on top of a 90 GiB working set and
    // OOM'd; dup-gram hubs now come from a plain GROUP BY
    // (hash-aggregatable, spillable) and the edge probe re-derives the
    // gram stream instead of storing it (md5 runs twice, trading CPU for
    // bounded memory). Nodes derive from edge endpoints (every clustered
    // doc is one by construction — the Spark side's argument).
    "d_span_clusters" -> spanClustersSql(None),
    "d_span_clusters_s41" -> spanClustersSql(Some(41)),
    "d_sorted_neighborhood" ->
      s"""WITH $snmCtesSql
        |SELECT id_a, id_b, jaccard FROM j
        |WHERE jaccard >= 0.65 ORDER BY id_a, id_b""".stripMargin,
    // the SNM pair CTEs + the reciprocal filter: per-src argmax by
    // (jaccard DESC, partner ASC) via the same max-of-struct device
    "d_mutual_best_match" ->
      s"""WITH $snmCtesSql,
        |pr AS (SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.65),
        |sym AS (
        |  SELECT id_a AS src, id_b AS dst, jaccard FROM pr
        |  UNION ALL
        |  SELECT id_b AS src, id_a AS dst, jaccard FROM pr),
        |best AS (
        |  SELECT src, -(max({'j': jaccard, 'nd': -dst})).nd AS bd,
        |         (max({'j': jaccard, 'nd': -dst})).j AS bj
        |  FROM sym GROUP BY src)
        |SELECT x.src AS id_a, x.bd AS id_b, x.bj AS jaccard
        |FROM best x JOIN best y ON x.src = y.bd AND x.bd = y.src
        |WHERE x.src < x.bd ORDER BY id_a, id_b""".stripMargin,
    "d_snapshot_diff" ->
      s"""WITH old AS (
        |  SELECT doc_id,
        |    md5(${normTextSql("text")}) AS fp_old
        |  FROM documents WHERE doc_id % 7 <> 1),
        |nw AS (
        |  SELECT doc_id,
        |    md5(${normTextSql("CASE WHEN doc_id % 7 = 3 THEN text || ' rev2' ELSE text END")}) AS fp_new
        |  FROM documents WHERE doc_id % 7 <> 2),
        |j AS (
        |  SELECT coalesce(old.doc_id, nw.doc_id) AS doc_id,
        |    CASE WHEN fp_old IS NULL THEN 'added'
        |         WHEN fp_new IS NULL THEN 'removed'
        |         WHEN fp_old <> fp_new THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id)
        |SELECT status, count(*) AS n_docs,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM j GROUP BY status ORDER BY status""".stripMargin
  )
}
