package graft.queries

import graft.{SparkSpec, TestDirs, TestSpark}

/** Self-verifying checks for the approximate / hash-specific operators
  * (VERDICT round 1, item 2): each query grades itself against exact ground
  * truth computed in the same plan; tolerances are recorded here.
  *
  * - d_minhash_recall / d_simhash_recall: recall of planted exact-dup pairs
  *   must be exactly 1.0 (identical text → identical signatures → guaranteed
  *   collision) — also DuckDB-oracle-checked in the corpus.
  * - s_ann_recall: multi-table LSH recall@10 vs brute-force cosine top-k;
  *   floor 0.5 (measured 0.7–0.9 across sf0.001/0.01/0.1 on the near-uniform
  *   testdata embeddings — ANN's adversarial case; hash is deterministic so
  *   the measurement is stable per dataset).
  * - q_approx_count_distinct: HLL++ estimate within 3×rsd (rsd = 0.05 →
  *   ±15%) of exact per group — also DuckDB-oracle-checked.
  */
class SelfCheckSpec extends SparkSpec {

  private val sf = TestSpark.sf0001

  test("d_minhash_recall: planted exact-dup pairs are always found (recall = 1.0)") {
    val r = Dedup.queries("d_minhash_recall")(spark, sf).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_truth") > 0)
    assert(r(0).getAs[Double]("recall") == 1.0)
    assert(r(0).getAs[Boolean]("pass"))
  }

  test("d_simhash_recall: planted exact-dup pairs hash to identical signatures") {
    val r = Dedup.queries("d_simhash_recall")(spark, sf).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Double]("recall") == 1.0)
    assert(r(0).getAs[Boolean]("pass"))
  }

  test("planted-pair recall entries: an empty documents table gives the vacuous recall 1.0") {
    import org.apache.spark.sql.functions.lit
    // the rows the DuckDB oracles return on the same empty table
    val expected = Seq(
      "d_minhash_recall" -> Seq(0L, 0L, 1.0, true),
      "d_simhash_recall" -> Seq(0L, 0L, 1.0, true),
      "m_phash_dedup" -> Seq(0L, 0L, 0L, 1.0),
      "m_audio_fprint_dedup" -> Seq(0L, 0L, 0L, 1.0))
    val entries = Dedup.queries ++ graft.multimodal.Multimodal.queries
    TestDirs.withEdgeCorpus("documents", lit(false)) { dir =>
      expected.foreach { case (name, row) =>
        val r = entries(name)(spark, dir).collect()
        assert(r.map(_.toSeq) sameElements Array(row), s"$name gave ${r.mkString}")
      }
    }
  }

  test("s_ann_recall: LSH bucket recall@10 of the brute-force top-k >= 0.5 floor") {
    val r = Similarity.queries("s_ann_recall")(spark, sf).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("k") == 10)
    // pruning actually happened: candidate set is a strict subset of corpus
    assert(r(0).getAs[Long]("n_candidates") < 499)
    assert(r(0).getAs[Double]("recall") >= 0.5)
    assert(r(0).getAs[Boolean]("pass"))
  }

  test("q_approx_count_distinct: HLL++ within 3×rsd of exact for every group") {
    val r = Relational.queries("q_approx_count_distinct")(spark, sf).collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getAs[Boolean]("within_tol")))
  }

  test("s_pq_topk: ADC top-10 overlaps the exact-dot top-10 (recall >= 0.2 floor)") {
    import org.apache.spark.sql.functions._
    val emb = Tables.t(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val exact = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.GraftFunctions.dotProduct(col("embedding"), col("qv")).as("dp"))
      .orderBy(col("dp").desc, col("vec_id")).limit(10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val pq = Similarity.queries("s_pq_topk")(spark, sf)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(pq.size == 10)
    // 8-codeword sample codebook is deliberately crude — the floor catches
    // a broken assignment/ADC join, not codebook quality (measured 0.4 at
    // sf0.01 / 0.4-0.6 at sf0.001 on the near-uniform testdata embeddings)
    assert(exact.intersect(pq).size >= 2,
      s"PQ recall collapsed: ${exact.intersect(pq).size}/10")
  }

  test("s_ivfpq_topk: refine repairs ADC error inside the probed cells") {
    import org.apache.spark.sql.functions._
    val ivfpq = Similarity.queries("s_ivfpq_topk")(spark, sf).collect()
    assert(ivfpq.length == 10)
    val ids = ivfpq.map(_.getAs[Long]("vec_id")).toSet
    assert(ids.size == 10)
    assert(!ids.contains(0L))
    // output is ranked by the EXACT refine cosine, descending
    val coss = ivfpq.map(_.getAs[Double]("cos"))
    assert(coss.zip(coss.tail).forall { case (a, b) => a >= b })
    // the refine stage can only reorder within the probed cells, so the
    // composed index must recall a floor of the exact-rerank IVF top-10
    // (same coarse quantizer, same nprobe): a collapsed overlap means the
    // ADC shortlist or the code assignment broke, not codebook quality
    // (measured 7-10/10 at sf0.001/sf0.01 — ADC's 20-row shortlist keeps
    // most true top-10 members despite the crude 8-code sample codebook)
    val ivf = Similarity.queries("s_ivf_topk")(spark, sf)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(ivf.intersect(ids).size >= 4,
      s"IVF-PQ recall collapsed: ${ivf.intersect(ids).size}/10")
  }

  test("s_mips_topk: augmented-cosine top-10 IS the plain inner-product top-10") {
    import org.apache.spark.sql.functions._
    val emb = Tables.t(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val exact = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.GraftFunctions.dotProduct(col("embedding"), col("qv")).as("dp"))
      .orderBy(col("dp").desc, col("vec_id")).limit(10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val mips = Similarity.queries("s_mips_topk")(spark, sf)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    // the reduction's theorem: every augmented vector has norm exactly M,
    // so cosine order on the augmented space == inner-product order
    assert(mips == exact,
      s"norm-augmentation reduction must preserve the MIP top-k: $mips vs $exact")
  }

  test("d_winnow_fingerprints: planted dups share whole sets; winnowing guarantee holds") {
    val r = Dedup.queries("d_winnow_fingerprints")(spark, sf).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getAs[Long]("n_planted_pairs") > 0)
    assert(row.getAs[Long]("n_full_overlap") == row.getAs[Long]("n_planted_pairs"))
    assert(row.getAs[Double]("recall") == 1.0)
    // winnowing compresses: far fewer fingerprints than characters
    assert(row.getAs[Double]("avg_n_fps") > 0.0)
    // the SWA guarantee: two texts sharing a substring of length >= k+w-1
    // (= 11) must share at least one fingerprint — check on a constructed
    // pair that is otherwise completely different
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val shared = "ABCDEFGHIJK" // 11 chars, length k+w-1
    val df = Seq(
      (1L, s"xxxxyyyyzzzz${shared}qqqqwwww"),
      (2L, s"mmnnoopp${shared}rrsstt")).toDF("doc_id", "text")
    val k = 8; val w = 4
    val fps = df
      .select(col("doc_id"), graft.queries.Text.normText(col("text")).as("nt"))
      .select(col("doc_id"),
        expr(s"""array_distinct(transform(
            sequence(0, length(nt) - $k - ${w - 1}),
            j -> array_min(transform(sequence(j, j + ${w - 1}),
              i -> cast(conv(substring(md5(substring(nt, i + 1, $k)), 1, 12),
                16, 10) as bigint)))))""").as("fps"))
      .collect().map(r0 => r0.getLong(0) -> r0.getSeq[Long](1).toSet).toMap
    assert(fps(1L).intersect(fps(2L)).nonEmpty,
      "a shared 11-char window must produce a shared fingerprint")
  }

  // q_kmv_setops estimator accuracy lives in SketchRefereeSpec (the exact
  // referee moved out of the corpus entry in round 14)

  test("q_bitmap_overlap: popcount intersections equal the exact distinct-join counts") {
    import org.apache.spark.sql.functions._
    val r = Relational.queries("q_bitmap_overlap")(spark, TestSpark.sf001).collect()
    assert(r.length == 10, "5 priorities -> 10 unordered pairs")
    val orders = Tables.t(spark, TestSpark.sf001, "orders")
      .select(col("o_orderpriority").as("p"), col("o_custkey")).distinct()
    // exact referee computed the naive way the bitmap join replaces
    val exact = orders.select(col("p").as("pa"), col("o_custkey"))
      .join(orders.select(col("p").as("pb"), col("o_custkey")), "o_custkey")
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n"))
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    r.foreach { row =>
      val key = (row.getAs[String]("pa"), row.getAs[String]("pb"))
      assert(row.getAs[Long]("n_inter") == exact(key),
        s"bitmap intersection must be EXACT for $key")
      val j = row.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0)
    }
  }

  test("q_quantile_sketch: full sample, merge == direct bottom-k, 3-sigma rank band") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    for (d <- Seq(sf, TestSpark.sf001)) {
      val r = Relational.queries("q_quantile_sketch")(spark, d).collect()
      assert(r.length == 4)
      // the theta pre-filter never starved a segment: merged sample is full k
      assert(r.forall(_.getAs[Long]("n_sample") == 256L), s"sketch starved at $d")
      val lih = Tables.t(spark, d, "lineitem").select(
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"),
        expr("cast(conv(substring(md5(concat_ws('_', l_orderkey, l_linenumber))" +
          ", 1, 12), 16, 10) as bigint)").as("h")).persist()
      // mergeability identity: per-segment bottom-k then keep-k-of-the-union
      // must pick the SAME sample (hence the same estimates) as one direct
      // global bottom-k — segments partition the rows, so the k globally
      // hash-smallest all survive their segment's cut
      val direct = lih.orderBy("h", "cents").limit(256)
        .withColumn("rn", row_number().over(Window.orderBy("cents", "h")))
        .collect().map(x => x.getAs[Int]("rn").toLong -> x.getAs[Long]("cents")).toMap
      val n = lih.count().toDouble
      r.foreach { row =>
        val q = row.getAs[Double]("q")
        val est = row.getAs[Long]("est_cents")
        val pos = math.max(1L, math.ceil(q * 256).toLong)
        assert(direct(pos) == est,
          s"merge path diverged from direct bottom-k at $d q=$q")
        // estimate's exact CDF position within the 3-sigma uniform-sample
        // rank band of the target quantile (+2/k discreteness slack)
        val cdf = lih.filter(col("cents") <= est).count() / n
        val band = 3.0 * math.sqrt(q * (1 - q) / 256.0) + 2.0 / 256.0
        assert(math.abs(cdf - q) <= band, s"$d q=$q cdf=$cdf band=$band")
      }
      lih.unpersist()
    }
  }

  test("s_hybrid_rrf: fused scores recompute from the rank columns; list is sound") {
    for (d <- Seq(sf, TestSpark.sf001)) {
      val r = Similarity.queries("s_hybrid_rrf")(spark, d).collect()
      assert(r.length == 10)
      assert(!r.exists(_.getAs[Long]("doc_id") == 0L), "query doc must be excluded")
      r.foreach { row =>
        val rb = if (row.isNullAt(1)) None else Some(row.getInt(1))
        val rc = if (row.isNullAt(2)) None else Some(row.getInt(2))
        assert(rb.isDefined || rc.isDefined, "fused doc must appear in a tower")
        (rb.toSeq ++ rc.toSeq).foreach(x => assert(x >= 1 && x <= 50))
        val expected = rb.map(x => 1.0 / (60.0 + x)).getOrElse(0.0) +
          rc.map(x => 1.0 / (60.0 + x)).getOrElse(0.0)
        assert(math.abs(row.getAs[Double]("rrf") - expected) < 1e-6)
      }
      val rrfs = r.map(_.getAs[Double]("rrf"))
      assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b },
        "fused list must be ordered by fused score")
    }
  }

  test("q_skyline: bucketed sweep equals the naive dominance anti-join; frontier shape") {
    import org.apache.spark.sql.functions._
    for (d <- Seq(sf, TestSpark.sf001)) {
      val r = Relational.queries("q_skyline")(spark, d).collect()
        .map(x => (x.getAs[Long]("price_cents"), x.getAs[Long]("order_day")))
      assert(r.nonEmpty)
      // frontier is strictly y-increasing in x (else the cheaper point
      // would dominate the pricier one)
      r.sliding(2).foreach {
        case Array((x1, y1), (x2, y2)) =>
          assert(x1 < x2 && y1 < y2, s"non-frontier shape at $d: ($x1,$y1) ($x2,$y2)")
        case _ =>
      }
      // referee: the O(n^2) dominance anti-join the bucketed sweep replaces
      val pts = Tables.t(spark, d, "orders").select(
        expr("cast(round(o_totalprice * 100) as bigint)").as("x"),
        datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
          .cast("bigint").as("y")).distinct().persist()
      val dom = pts.select(col("x").as("qx"), col("y").as("qy"))
      val naive = pts.join(dom,
          col("qx") <= col("x") && col("qy") >= col("y") &&
            (col("qx") < col("x") || col("qy") > col("y")), "left_anti")
        .collect().map(x => (x.getLong(0), x.getLong(1))).sorted
      pts.unpersist()
      assert(r.toSeq == naive.toSeq,
        s"bucketed sweep diverged from the dominance definition at $d")
    }
  }
}
