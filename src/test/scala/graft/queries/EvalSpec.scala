package graft.queries

import graft.{SparkSpec, TestDirs, TestSpark}

/** Invariant tests for the k-NN label eval (s_knn_classify) and the
  * seasonal-naive forecast baseline (e_forecast_baseline).
  */
class EvalSpec extends SparkSpec {

  private val sf = TestSpark.sf0001

  test("s_knn_classify: evaluates the whole held-out batch, accuracy consistent") {
    val r = Similarity.queries("s_knn_classify")(spark, sf).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getAs[Long]("n_queries") == 50L)
    val acc = row.getAs[Double]("accuracy")
    assert(acc >= 0.0 && acc <= 1.0)
    val expected = BigDecimal(row.getAs[Long]("n_correct").toDouble / 50.0)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(acc == expected)
  }

  test("e_forecast_baseline: full panel coverage per type, MAPE non-negative") {
    val r = Events.queries("e_forecast_baseline")(spark, sf).collect()
    assert(r.nonEmpty)
    val spineLen = Events.queries("e_gap_fill")(spark, sf).count()
    r.foreach { row =>
      assert(row.getAs[Long]("n_hours") == spineLen - 24,
        "every type scores every hour with a defined 24h-back prediction")
      assert(row.getAs[Double]("mape") >= 0.0)
    }
  }

  test("s_mrl_recall: overlap bounded by k and consistent with recall") {
    val r = Similarity.queries("s_mrl_recall")(spark, sf).collect()
    assert(r.length == 1)
    val row = r(0)
    val overlap = row.getAs[Long]("n_overlap")
    assert(overlap >= 0 && overlap <= 10)
    assert(row.getAs[Double]("recall") == overlap / 10.0)
  }

  test("t_ngram_lang_id: classifies every doc, beats 1.5x chance on the weak-signal corpus") {
    val r = Text.queries("t_ngram_lang_id")(spark, sf).collect()
    val nLangs = r.length
    assert(nLangs >= 2)
    val total = r.map(_.getAs[Long]("n_docs")).sum
    val correct = r.map(_.getAs[Long]("n_correct")).sum
    val classified = r.map(_.getAs[Long]("n_classified")).sum
    // the left join grades every doc BY CONSTRUCTION (unmatched → incorrect)
    assert(total == Tables.t(spark, sf, "documents").count())
    // coverage floor: profile trigrams should still hit nearly every doc
    assert(classified >= (total * 0.9).toLong,
      s"profile coverage $classified/$total")
    // the synthetic corpus shares most vocabulary across langs — the
    // honest bar is "clearly above chance", not "production lang-ID"
    // (measured 0.42 micro at sf0.001, 0.39 at sf0.01)
    val chance = 1.0 / nLangs
    assert(correct.toDouble / total > 1.5 * chance,
      s"micro accuracy ${correct.toDouble / total} vs chance $chance")
  }

  test("s_binary_hamming: packed-signature popcount equals the direct sign-diff count") {
    import org.apache.spark.sql.functions._
    val r = Similarity.queries("s_binary_hamming")(spark, sf).collect()
    assert(r.length == 10)
    r.foreach(row => assert((0 to 64).contains(row.getAs[Int]("hamming"))))
    // recompute every pair's Hamming distance WITHOUT the bit packing
    // (HOF sign-disagreement count) and check the reported top-10 is a
    // prefix of that independent ranking
    val emb = Tables.t(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val direct = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"), expr(
        """aggregate(zip_with(embedding, qv,
          |  (x, y) -> CASE WHEN (x > 0d) != (y > 0d) THEN 1 ELSE 0 END),
          |  0, (a, b) -> a + b)""".stripMargin).as("hamming"))
      .orderBy(col("hamming"), col("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(r.map(row => (row.getAs[Long]("vec_id"), row.getAs[Int]("hamming"))).toSeq == direct)
  }

  test("s_rerank_twostage: recall arithmetic consistent, bounded by k") {
    val r = Similarity.queries("s_rerank_twostage")(spark, sf).collect()
    assert(r.length == 1)
    val row = r(0)
    val overlap = row.getAs[Long]("n_overlap")
    assert(overlap >= 0 && overlap <= 10)
    assert(row.getAs[Long]("n_candidates") == 50L)
    assert(row.getAs[Double]("recall") == overlap / 10.0)
  }

  test("e_survival_km: life-table arithmetic telescopes, survival is a monotone curve") {
    val r = Events.queries("e_survival_km")(spark, sf).collect()
    assert(r.nonEmpty)
    // at-risk counts telescope: n_risk(i) = n_risk(i+1) + d(i) + c(i)
    r.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("n_risk") ==
          b.getAs[Long]("n_risk") + a.getAs[Long]("n_events") + a.getAs[Long]("n_censored"))
      case _ => ()
    }
    // the first at-risk count is the full user census
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(r.head.getAs[Long]("n_risk") == nUsers)
    // survival is non-increasing from (0, 1]
    val surv = r.map(_.getAs[Double]("survival"))
    assert(surv.head <= 1.0 && surv.head > 0.0)
    surv.sliding(2).foreach { case Array(a, b) => assert(b <= a); case _ => () }
    // KM recomputation: survival(0) = 1 - d0/n0 exactly
    val d0 = r.head.getAs[Long]("n_events").toDouble
    val n0 = r.head.getAs[Long]("n_risk").toDouble
    assert(math.abs(surv.head - (1.0 - d0 / n0)) < 1e-5)
  }

  test("c_dsir_weights: target language scores highest, census complete") {
    val r = Curation.queries("c_dsir_weights")(spark, sf).collect()
    assert(r.length >= 2)
    assert(r.map(_.getAs[Long]("n_docs")).sum ==
      Tables.t(spark, sf, "documents").count())
    // the en LM is trained ON the en docs — they must score highest
    val byLang = r.map(row => row.getAs[String]("lang") -> row.getAs[Double]("avg_nw")).toMap
    assert(byLang("en") == byLang.values.max,
      s"en should rank top: $byLang")
  }

  test("t_textrank: damping floor bounds every score, content-word filter held") {
    val r = Text.queries("t_textrank")(spark, sf).collect()
    assert(r.length == 20)
    r.foreach { row =>
      // R = 0.15 + 0.85·inflow with inflow ≥ 0 → every score ≥ 0.15
      assert(row.getAs[Double]("score") >= 0.15)
      assert(row.getAs[String]("word").length >= 4)
    }
    // descending by score (ties broken by word — the rank key discipline)
    val scores = r.map(_.getAs[Double]("score"))
    scores.sliding(2).foreach { case Array(a, b) => assert(b <= a); case _ => () }
  }

  test("s_silhouette: full census, silhouettes bounded in [-1, 1]") {
    val r = Similarity.queries("s_silhouette")(spark, sf).collect()
    assert(r.map(_.getAs[Long]("n")).sum ==
      Tables.t(spark, sf, "embeddings").count())
    r.foreach { row =>
      val avg = row.getAs[Double]("avg_sil")
      assert(avg >= -1.0 && avg <= 1.0)
      assert(row.getAs[Long]("n_wellplaced") <= row.getAs[Long]("n"))
    }
  }

  test("s_intra_diversity: the sum-vector identity matches brute-force pairwise mean") {
    import org.apache.spark.sql.functions._
    val r = Similarity.queries("s_intra_diversity")(spark, sf).collect()
      .map(row => row.getAs[Int]("label") -> row.getAs[Double]("mean_pair_cos")).toMap
    assert(r.nonEmpty)
    // brute-force O(n²) referee on ONE label's vectors (test-scale only)
    val label = r.keys.min
    val vecs = Tables.t(spark, sf, "embeddings")
      .filter(col("label") === label)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    def unit(v: Array[Double]) = {
      val nrm = math.sqrt(v.map(x => x * x).sum); v.map(_ / nrm)
    }
    val us = vecs.map(unit)
    var sum = 0.0; var cnt = 0
    for (i <- us.indices; j <- us.indices if i != j) {
      sum += us(i).zip(us(j)).map { case (a, b) => a * b }.sum; cnt += 1
    }
    assert(math.abs(r(label) - sum / cnt) < 1e-4,
      s"identity ${r(label)} vs pairwise ${sum / cnt}")
  }

  test("e_seasonal_anomaly: full panel per type, anomalies bounded") {
    val r = Events.queries("e_seasonal_anomaly")(spark, sf).collect()
    assert(r.nonEmpty)
    val spineLen = Events.queries("e_gap_fill")(spark, sf).count()
    r.foreach { row =>
      assert(row.getAs[Long]("n_hours") == spineLen)
      assert(row.getAs[Long]("n_anom") <= row.getAs[Long]("n_hours"))
      assert(row.getAs[Double]("max_abs_z") >= 0.0)
    }
  }

  test("e_markov_attribution: every channel credited, effects non-negative, shares sum to 1") {
    import org.apache.spark.sql.functions._
    val r = Events.queries("e_markov_attribution")(spark, sf).collect()
    // one row per non-purchase event type observed pre-conversion
    val types = Tables.events(spark, sf)
      .filter(col("event_type") =!= "purchase")
      .select("event_type").distinct().count()
    assert(r.length == types)
    r.foreach { row =>
      // removing a channel can only destroy conversion paths
      assert(row.getAs[Double]("removal_effect") >= 0.0)
      assert(row.getAs[Double]("conv_if_removed") >= 0.0 &&
        row.getAs[Double]("conv_if_removed") <= 1.0)
    }
    val shares = r.map(_.getAs[Double]("attribution_share")).sum
    assert(math.abs(shares - 1.0) < 0.005, s"shares sum to $shares")
  }

  test("c_ngram_novelty: covers all eligible docs, novelty decays front-to-back") {
    import org.apache.spark.sql.functions._
    val rows = Curation.queries("c_ngram_novelty")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    // every document with >= 3 whitespace tokens lands in exactly one decile
    val eligible = Tables.t(spark, sf, "documents")
      .select(Text.tokens(lower(col("text"))).as("sp"))
      .filter(size(col("sp")) >= 3).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == eligible)
    rows.foreach { row =>
      val nv = row.getAs[Double]("avg_novelty")
      assert(nv >= 0.0 && nv <= 1.0)
    }
    // the whole point of the curve: early arrivals contribute more new
    // trigrams than late ones (first decile contains the global first doc)
    val byDecile = rows.sortBy(_.getAs[Long]("decile"))
    assert(byDecile.head.getAs[Double]("avg_novelty") >
      byDecile.last.getAs[Double]("avg_novelty"))
  }

  test("e_bot_detect: population matches the >=21-event census, stats ordered") {
    import org.apache.spark.sql.functions._
    val r = Events.queries("e_bot_detect")(spark, sf).collect()
    assert(r.length == 1)
    val row = r(0)
    // n gaps = n events - 1, so the >=20-gap filter is the >=21-event census
    val census = Tables.events(spark, sf)
      .groupBy("user_id").count().filter(col("count") >= 21).count()
    assert(row.getAs[Long]("n_users") == census)
    assert(row.getAs[Long]("n_bots") <= row.getAs[Long]("n_users"))
    assert(row.getAs[Double]("min_cv") >= 0.0)
    assert(row.getAs[Double]("min_cv") <= row.getAs[Double]("p50_cv"))
  }

  test("t_rake_topk: matches a local RAKE recompute end to end") {
    val r = Text.queries("t_rake_topk")(spark, sf).collect()
    assert(r.length == 15)
    val stop = Text.stopwords.toSet
    val docs = Tables.t(spark, sf, "documents").select("text").collect()
      .map(_.getAs[String]("text").trim.toLowerCase
        .split("[ \\t\\n\\x0B\\f\\r]+").toSeq)
    // islands of non-stopword tokens
    val phrases = docs.flatMap { toks =>
      val runs = scala.collection.mutable.Buffer.empty[Seq[String]]
      var cur = scala.collection.mutable.Buffer.empty[String]
      toks.foreach { t =>
        if (stop(t) || t.isEmpty) { if (cur.nonEmpty) { runs += cur.toSeq; cur.clear() } }
        else cur += t
      }
      if (cur.nonEmpty) runs += cur.toSeq
      runs
    }
    val freq = phrases.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    val deg = phrases.flatMap(p => p.map(_ -> p.length))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    def ws(w: String) = deg(w).toDouble / freq(w)
    val expected = phrases.map(_.mkString(" ")).groupBy(identity)
      .map { case (p, occ) =>
        val sc = BigDecimal(p.split(" ").map(ws).sum)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (p, occ.size.toLong, sc)
      }.toSeq.sortBy { case (p, _, sc) => (-sc, p) }.take(15)
    r.zip(expected).foreach { case (row, (p, n, sc)) =>
      assert(row.getAs[String]("phrase") == p)
      assert(row.getAs[Long]("n_occur") == n)
      assert(math.abs(row.getAs[Double]("score") - sc) < 1e-5)
    }
  }

  test("s_mmr_rerank: matches a local greedy MMR replay") {
    import org.apache.spark.sql.functions._
    val r = Similarity.queries("s_mmr_rerank")(spark, sf).collect()
    assert(r.length == 5)
    assert(r.map(_.getAs[Long]("vec_id")).distinct.length == 5)
    def r4(v: Double) = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val embs = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(row => row.getAs[Long]("vec_id") ->
        row.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val qv = embs(0L)
    val cands = embs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, r4(cos(v, qv)), v) }
      .sortBy { case (id, rel, _) => (-rel, id) }.take(20)
    var sel = List(cands.maxBy { case (id, rel, _) => (rel, -id) })
    var out = List((1, sel.head._1, sel.head._2, sel.head._2))
    for (i <- 2 to 5) {
      val pick = cands.filterNot(c => sel.exists(_._1 == c._1))
        .map { case (id, rel, v) =>
          val maxsim = sel.map(s => r4(cos(v, s._3))).max
          (id, rel, v, r6(0.7 * rel - 0.3 * maxsim))
        }.sortBy { case (id, _, _, m) => (-m, id) }.head
      sel = sel :+ ((pick._1, pick._2, pick._3))
      out = out :+ ((i, pick._1, pick._2, pick._4))
    }
    r.zip(out).foreach { case (row, (rank, id, rel, mmr)) =>
      assert(row.getAs[Long]("rank") == rank)
      assert(row.getAs[Long]("vec_id") == id, s"rank $rank picked ${row}")
      assert(math.abs(row.getAs[Double]("rel") - rel) < 1e-9)
      assert(math.abs(row.getAs[Double]("mmr") - mmr) < 1e-9)
    }
  }

  test("s_mmr_rerank: a corpus holding only the query vector gives zero rows") {
    import org.apache.spark.sql.functions.col
    TestDirs.withEdgeCorpus("embeddings", col("vec_id") === 0) { dir =>
      val r = Similarity.queries("s_mmr_rerank")(spark, dir)
      assert(r.columns.toSeq == Seq("rank", "vec_id", "rel", "mmr"))
      assert(r.collect().isEmpty)
    }
  }

  test("s_pca_project: an empty embeddings table gives zero rows") {
    import org.apache.spark.sql.functions.lit
    TestDirs.withEdgeCorpus("embeddings", lit(false)) { dir =>
      val r = Similarity.queries("s_pca_project")(spark, dir)
      assert(r.columns.toSeq == Seq("label", "n", "avg_proj", "var_along"))
      assert(r.collect().isEmpty)
    }
  }

  test("s_pca_project: a one-row corpus fails naming the entry, not with a divide by zero") {
    import org.apache.spark.sql.functions.col
    TestDirs.withEdgeCorpus("embeddings", col("vec_id") === 0) { dir =>
      val e = intercept[IllegalArgumentException](
        Similarity.queries("s_pca_project")(spark, dir).collect())
      assert(e.getMessage.contains("s_pca_project") &&
        e.getMessage.contains("no direction"), e.getMessage)
    }
  }

  test("e_shapley_attrib: efficiency and monotonicity axioms hold") {
    import org.apache.spark.sql.functions._
    val r = Events.queries("e_shapley_attrib")(spark, sf).collect()
    val channels = Tables.events(spark, sf)
      .filter(col("event_type") =!= "purchase")
      .select("event_type").distinct().count()
    assert(r.length == channels)
    // v is monotone (supersets only gain users), so every phi >= 0
    r.foreach(row => assert(row.getAs[Double]("shapley") >= 0.0))
    // efficiency: phis sum to v(grand coalition) = conversions among
    // users with at least one non-purchase event
    val ev = Tables.events(spark, sf)
    val attributable = ev.groupBy("user_id").agg(
        (sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) /
          count(lit(1)) > 0.2).cast("int").as("conv"),
        sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L)).as("nc"))
      .filter(col("nc") > 0).agg(sum("conv")).collect()(0).getLong(0)
    val phiSum = r.map(_.getAs[Double]("shapley")).sum
    assert(math.abs(phiSum - attributable) < 1e-3,
      s"efficiency: $phiSum vs $attributable")
    assert(math.abs(r.map(_.getAs[Double]("share")).sum - 1.0) < 0.005)
  }

  test("e_position_attrib: every touched journey distributes exactly one credit") {
    import org.apache.spark.sql.functions._
    val r = Events.queries("e_position_attrib")(spark, sf).collect()
    assert(r.nonEmpty)
    // users with at least one non-purchase touch strictly before their
    // first purchase — each such journey hands out credits summing to 1.0
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("tsus"),
        col("event_id"), col("event_type"))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(min(struct(col("tsus"), col("event_id"))).as("fpk"))
    val touched = ev.join(fp, Seq("user_id"))
      .filter(col("event_type") =!= "purchase" &&
        struct(col("tsus"), col("event_id")) < col("fpk"))
      .select("user_id").distinct().count()
    val total = r.map(_.getAs[Double]("total_credit")).sum
    assert(math.abs(total - touched) < 1e-3,
      s"credit conservation: $total vs $touched journeys")
    assert(math.abs(r.map(_.getAs[Double]("share")).sum - 1.0) < 0.005)
  }

  test("c_filter_agreement: combinations census all docs; marginals match the gates") {
    val r = Curation.queries("c_filter_agreement")(spark, sf).collect()
    assert(r.length <= 8)
    assert(r.map(_.getAs[Long]("n_docs")).sum ==
      Tables.t(spark, sf, "documents").count())
    assert(math.abs(r.map(_.getAs[Double]("share")).sum - 1.0) < 0.005)
    // marginal cross-checks against the standalone gate queries
    val gopherPass = Curation.queries("c_gopher_quality")(spark, sf).collect()
      .map(_.getAs[Long]("n_pass")).sum
    assert(r.filter(_.getAs[Boolean]("pass_gopher"))
      .map(_.getAs[Long]("n_docs")).sum == gopherPass)
    val qualityKept = Text.queries("t_quality_filter")(spark, sf).collect()
      .map(_.getAs[Long]("kept")).sum
    assert(r.filter(_.getAs[Boolean]("pass_quality"))
      .map(_.getAs[Long]("n_docs")).sum == qualityKept)
  }

  test("c_k_anonymity: class arithmetic is self-consistent") {
    val r = Curation.queries("c_k_anonymity")(spark, sf).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getAs[Long]("n_docs") ==
      Tables.t(spark, sf, "documents").count())
    assert(row.getAs[Long]("n_violating") <= row.getAs[Long]("n_classes"))
    assert(row.getAs[Long]("n_suppressed") < row.getAs[Long]("n_docs"))
    // after suppression every surviving class has at least k members (or
    // nothing survives and achieved_k is 0)
    val k = row.getAs[Long]("achieved_k")
    assert(k == 0 || k >= 5)
  }
}
