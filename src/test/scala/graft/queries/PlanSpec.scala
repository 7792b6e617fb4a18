package graft.queries

import org.apache.spark.sql.execution.FileSourceScanExec

import graft.{SparkEntry, SparkSpec, TestSpark}

/** Physical-plan regression guards for the scale properties that matter at
  * 100 TB: filter pushdown to the parquet scan, column pruning, broadcast
  * joins for dimension tables, TakeOrderedAndProject for top-k (no full
  * sort), and partial (map-side) aggregation.
  */
class PlanSpec extends SparkSpec {

  /** Pre-AQE physical plan (the full tree; plan strings truncate metadata). */
  private def plan(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.sf0001).queryExecution.sparkPlan

  private def scans(name: String): Seq[FileSourceScanExec] =
    plan(name).collectLeaves().collect { case f: FileSourceScanExec => f }.toSeq

  private def scanOf(name: String, table: String): FileSourceScanExec =
    scans(name).find(_.metadata("Location").contains(s"$table.parquet"))
      .getOrElse(fail(s"no parquet scan of $table in $name"))

  test("q1_agg: shipdate filter is pushed to the parquet scan and columns are pruned") {
    val sc = scanOf("q1_agg", "lineitem")
    // Catalyst rewrites to_date(ts) <= d into a pushable timestamp comparison
    assert(sc.metadata("PushedFilters").contains("LessThan(l_shipdate"))
    assert(sc.requiredSchema.fieldNames.toSet ==
      Set("l_quantity", "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus", "l_shipdate"))
    // map-side partial aggregation before the shuffle
    assert(plan("q1_agg").toString.contains("partial_sum"))
  }

  test("q3_join_topk: dim filters pushed, top-k is TakeOrderedAndProject not a full sort") {
    assert(scanOf("q3_join_topk", "customer").metadata("PushedFilters")
      .contains("EqualTo(c_mktsegment,BUILDING)"))
    assert(scanOf("q3_join_topk", "orders").metadata("PushedFilters")
      .contains("LessThan(o_orderdate"))
    assert(plan("q3_join_topk").toString.contains("TakeOrderedAndProject"))
  }

  test("q_join_broadcast: hinted dim join is BroadcastHashJoin; fact scan reads 2 columns") {
    assert(plan("q_join_broadcast").toString.contains("BroadcastHashJoin"))
    assert(scanOf("q_join_broadcast", "lineitem").requiredSchema.fieldNames.toSet ==
      Set("l_partkey", "l_quantity"))
  }

  test("q_topk: orderBy+limit plans as TakeOrderedAndProject") {
    assert(plan("q_topk").toString.contains("TakeOrderedAndProject(limit=10"))
  }

  test("q_semi_join: plans as LeftSemi with pushed selective filter") {
    assert(plan("q_semi_join").toString.contains("LeftSemi"))
    assert(scanOf("q_semi_join", "orders").metadata("PushedFilters")
      .contains("GreaterThan(o_totalprice,100000.0)"))
  }

  test("t_lang_stats: documents scan pruned to the two referenced columns") {
    assert(scanOf("t_lang_stats", "documents").requiredSchema.fieldNames.toSet ==
      Set("lang", "n_chars"))
  }

  test("d_minhash_lsh: band self-join reuses one shuffle (ReusedExchange after execution)") {
    // disable auto-broadcast: at test SF AQE broadcasts the tiny sig side
    // (fine there), but the 100 TB shape is the SMJ whose second side must
    // reuse the first side's shuffle — that's what this guards
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("d_minhash_lsh")(spark, TestSpark.sf0001)
      df.collect() // the final AQE plan only materializes on df's own execution
      assert(df.queryExecution.executedPlan.toString.contains("ReusedExchange"),
        "both sides of the band equi-join must share one canonical shuffle")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("e_click_attrib: interval join plans as an equi-join, never a nested loop") {
    val p = plan("e_click_attrib").toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "time-bounded same-user join must shuffle on user, not cross-join")
  }

  test("q_range_join / q_asof_join: no nested-loop or cartesian fallback") {
    for (q <- Seq("q_range_join", "q_asof_join")) {
      val p = plan(q).toString
      assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
        s"$q must stay an equi-join shape")
    }
  }

  test("s_ann_recall: query-side joins broadcast; candidates meet via hash join") {
    assert(plan("s_ann_recall").toString.contains("BroadcastHashJoin"))
  }

  test("s_ivf_topk: literal-quantizer cell filter, top-k is TakeOrdered not a full sort") {
    // r21: cell membership is a per-row ArgmaxSim literal + IN filter on
    // the scan (the former broadcast-join + groupBy(vec_id) argmax shape
    // shuffled the embedding payload); the only join left is the 1-row
    // local query side.
    val p = plan("s_ivf_topk").toString
    assert(p.contains("argmax_sim"), "cell membership must be the literal ArgmaxSim filter")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "nothing data-sized may shuffle-join")
    assert(p.contains("TakeOrderedAndProject"), "rerank top-k must not full-sort")
  }

  test("s_ivfpq_topk: every join broadcasts; both top-k cuts are TakeOrdered") {
    val p = plan("s_ivfpq_topk").toString
    // cell membership, codebook, LUT, shortlist: all broadcast hash joins
    assert(p.contains("BroadcastHashJoin"), "IVF-PQ joins must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "no shuffle join anywhere — codebook/LUT/shortlist sides are tiny")
    // ADC shortlist cut and the final refine are TakeOrdered, not sorts
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      "both the ADC-20 shortlist and the refined top-10 must TakeOrdered")
  }

  test("c_hashed_ngram_lr: documents scan pruned; map-side partial agg before doc shuffle") {
    val p = plan("c_hashed_ngram_lr")
    scans("c_hashed_ngram_lr").foreach { sc =>
      val cols = sc.schema.fieldNames.toSet
      assert(cols == Set("doc_id", "text", "lang"),
        s"documents scan must read exactly doc_id/text/lang: $cols")
    }
    // feature rows combine locally (partial HashAggregate below the
    // doc_id exchange) — the shuffle moves per-doc sums, not per-feature rows
    val s = p.toString
    assert(s.contains("HashAggregate"), "feature sum must partial-aggregate")
    assert(!s.contains("SortMergeJoin") && !s.contains("BroadcastHashJoin"),
      "scorer is join-free: the hashed model needs no vocabulary join")
  }

  test("m_media_features: documents scan pruned to doc_id before media generation") {
    assert(scanOf("m_media_features", "documents").requiredSchema.fieldNames.toSet ==
      Set("doc_id"))
  }

  test("c_contamination: benchmark n-gram set meets the corpus via broadcast left-semi") {
    val p = plan("c_contamination").toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "the big side must not shuffle; the distinct benchmark grams broadcast")
  }

  test("c_pack_sequences: window partitions on shard (no single-partition global sort)") {
    val p = plan("c_pack_sequences").toString
    assert(p.contains("Window"))
    assert(!p.contains("SinglePartition"),
      "running-sum window must partition by shard, never collapse to one partition")
  }

  test("c_hash_sample / c_shard_assign: documents scan pruned to referenced columns") {
    assert(scanOf("c_hash_sample", "documents").requiredSchema.fieldNames.toSet ==
      Set("lang", "text"))
    assert(scanOf("c_shard_assign", "documents").requiredSchema.fieldNames.toSet ==
      Set("doc_id", "text", "n_chars"))
  }

  test("t_tfidf_top: unhinted df join lets AQE broadcast at this SF; map-side partials") {
    // the join is deliberately unhinted (a web-scale vocab must be able to
    // shuffle) — AQE picks broadcast when the df side is actually small,
    // which only shows in the EXECUTED plan
    val df = SparkEntry.queries("t_tfidf_top")(spark, TestSpark.sf0001)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "AQE must broadcast the small per-term document-frequency side")
    assert(plan("t_tfidf_top").toString.contains("partial_count"),
      "occurrence counts must partial-aggregate map-side")
  }

  test("c_contam_bloom: ONE corpus pass; gram set and bucket set broadcast onto it") {
    // r20 shape: the former two corpus semi-join passes (+ anti-join
    // audit) fused into one pass carrying both hit flags through
    // broadcast LEFT joins — the corpus side still never shuffles before
    // its per-doc aggregate, and the bench-gram subtree materializes
    // once (localCheckpoint) instead of once per broadcast
    val p = plan("c_contam_bloom").toString
    val corpusScans = p.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("documents"))
    assert(corpusScans <= 1,
      s"corpus gram pass must run once, found $corpusScans documents scans:\n$p")
    val bcastJoins = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bcastJoins >= 2,
      "gram set and bucket set must both broadcast onto the corpus pass")
    assert(!p.contains("LeftSemi") || bcastJoins >= 2,
      "hit flags ride broadcast left joins; no second corpus pass")
  }

  test("s_quantize_int8: 64-row per-dimension stats broadcast onto the exploded values") {
    assert(plan("s_quantize_int8").toString.contains("BroadcastHashJoin"),
      "min/max stats must broadcast — re-shuffling the exploded values would dominate")
  }

  test("q_scd2_merge: lag and lead share one window spec — exactly one shuffle") {
    val p = plan("q_scd2_merge")
    val exchanges = p.toString.linesIterator.count(_.trim.startsWith("Exchange"))
    // one hashpartitioning(k) exchange for both windows + one for the final
    // single-partition orderBy of the 3-row aggregate
    assert(exchanges <= 3, s"expected the two windows to share a shuffle, got:\n$p")
    assert(p.toString.contains("Window"))
  }

  test("c_unicode_norm: native expression stays inside whole-stage codegen") {
    val df = SparkEntry.queries("c_unicode_norm")(spark, TestSpark.sf0001)
    df.collect() // AQE: codegen spans only appear in the FINAL executed plan
    val ws = df.queryExecution.executedPlan.toString
    // the compact tree marks codegen'd operators with a "*(stage)" prefix
    assert("""\*\(\d+\) Project \[[^\n]*unicode_norm""".r.findFirstIn(ws).isDefined,
      s"unicode_norm's Project must carry the WholeStageCodegen marker:\n$ws")
  }

  test("d_winnow_fingerprints: native winnow_fps inside codegen, no interpreted HOF left") {
    val df = SparkEntry.queries("d_winnow_fingerprints")(spark, TestSpark.sf0001)
    df.collect()
    val ws = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[[^\n]*winnow_fps""".r.findFirstIn(ws).isDefined,
      s"winnow_fps's Project must carry the WholeStageCodegen marker:\n$ws")
    // the rewrite's point: the 4x-redundant-md5 lambda pipeline is gone
    assert(!ws.contains("transform("),
      s"no interpreted HOF may remain in the fingerprint path:\n$ws")
  }

  test("d_dup_spans: native gram_fps generator, no sequence-explode or per-row md5") {
    val df = SparkEntry.queries("d_dup_spans")(spark, TestSpark.sf0001)
    df.collect()
    val ws = df.queryExecution.executedPlan.toString
    assert(ws.contains("gram_fps"),
      s"the gram stream must come from the native gram_fps expression:\n$ws")
    // the rewrite's point: no interpreted sequence() HOF generating one row
    // per character, and no per-exploded-row md5/conv re-hash
    assert(!ws.contains("sequence("),
      s"no interpreted sequence() may remain in the gram path:\n$ws")
    assert(!ws.toLowerCase.contains("md5("),
      s"the md5 draw must happen once inside gram_fps, not per exploded row:\n$ws")
  }

  test("spanEdges: native gram_fps, exactly ONE gh window, no min/max pair, no per-row md5") {
    val df = Dedup.spanEdgesPlan(spark, TestSpark.sf0001, 20)
    df.collect()
    val ws = df.queryExecution.executedPlan.toString
    assert(ws.contains("gram_fps"),
      s"the gram stream must come from the native gram_fps expression:\n$ws")
    assert(!ws.contains("sequence("),
      s"no interpreted sequence() may remain in the gram path:\n$ws")
    assert(!ws.toLowerCase.contains("md5("),
      s"the md5 draw must happen once inside gram_fps, not per exploded row:\n$ws")
    // one min-window pass over gh — the round-10 rewrite's point: the
    // mn/mx pair paid a second window column for a condition the star
    // filter (doc_id != mn) already implies
    // the AQE dump repeats the tree under "== Initial Plan ==" — count
    // Window nodes in the final section only
    val finalPlan = ws.split("== Initial Plan ==")(0)
    val nWindow = finalPlan.linesIterator.count(
      _.replaceAll("^[-+*:() \\d]+", "").startsWith("Window"))
    assert(nWindow == 1, s"expected exactly one Window node, got $nWindow:\n$ws")
    assert(!ws.contains("max(doc_id"),
      s"no max window column may remain (mn alone identifies dup grams):\n$ws")
  }

  test("t_ngram_lang_id: native char_ngrams generator, no transform/sequence HOF") {
    val df = SparkEntry.queries("t_ngram_lang_id")(spark, TestSpark.sf0001)
    df.collect()
    val ws = df.queryExecution.executedPlan.toString
    assert(ws.contains("char_ngrams"),
      s"trigram stream must come from the native char_ngrams expression:\n$ws")
    assert(!ws.contains("transform("),
      s"no interpreted HOF may remain in the trigram path:\n$ws")
  }

  test("e_pagerank: stream-sized work is ONE window pass + one aggregate (scalar extract)") {
    // the driver-side power iteration leaves a plan whose ONLY data-sized
    // stages are the lag window and the (src, dst) count — the result
    // itself is a LocalTableScan of the vocabulary-sized rank table
    val df = SparkEntry.queries("e_pagerank")(spark, TestSpark.sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan"),
      s"pagerank output must be a local (driver-computed) relation:\n$p")
  }

  test("q_window_ntile: ntile/percent_rank/cume_dist share ONE Window node (one shuffle+sort)") {
    val windows = plan("q_window_ntile").collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 1,
      s"all three ranking functions must evaluate in a single Window pass, got ${windows.size}")
  }

  test("q_unpivot: melt plans as an Expand node (narrow map, no extra shuffle)") {
    val p = plan("q_unpivot").toString
    assert(p.contains("Expand"), "unpivot must lower to Catalyst Expand")
  }

  test("c_line_dedup: documents scan pruned; dedup window partitions on chunk, not one partition") {
    assert(scanOf("c_line_dedup", "documents").requiredSchema.fieldNames.toSet ==
      Set("doc_id", "lang", "text"))
    val p = plan("c_line_dedup").toString
    assert(p.contains("Window"))
    assert(!p.contains("SinglePartition"),
      "first-occurrence ranking must shuffle on chunk hash, never collapse to one partition")
  }

  test("c_token_budget: running token sum partitions by lang (no single-partition collapse)") {
    val p = plan("c_token_budget").toString
    assert(p.contains("Window") && !p.contains("SinglePartition"),
      "per-lang cumsum must stay partitioned by lang")
  }

  test("e_cohort_retention: unhinted user-cardinality join; AQE broadcasts at this SF") {
    // no broadcast hint — first-day cardinality grows with users, so the
    // plan must stay free to shuffle on user_id at scale; AQE's own
    // broadcast decision (small side here) appears in the executed plan
    val df = SparkEntry.queries("e_cohort_retention")(spark, TestSpark.sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "AQE should broadcast the small first-day side at test SF")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("q_salted_agg: both phases partial-aggregate (map-side combine on (key, salt))") {
    assert(plan("q_salted_agg").toString.contains("partial_sum"))
  }

  test("q_star_join: bounded dims hinted, customer unhinted (AQE broadcasts at this SF)") {
    // nation/region are spec-bounded (25/5 rows) and carry explicit hints;
    // customer scales with SF so the static plan must stay free to shuffle
    // it — AQE's own broadcast decision appears only in the executed plan
    val sp = plan("q_star_join").toString
    assert(sp.split("BroadcastHashJoin").length - 1 >= 2,
      "nation and region must ride explicit broadcasts")
    val df = SparkEntry.queries("q_star_join")(spark, TestSpark.sf0001)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.split("BroadcastHashJoin").length - 1 >= 3,
      "AQE should also broadcast the small customer side at test SF")
    assert(scanOf("q_star_join", "region").metadata("PushedFilters")
      .contains("EqualTo(r_name,ASIA)"))
  }

  test("q_latest_by_key: max-of-struct compaction partial-aggregates, no window sort") {
    val p = plan("q_latest_by_key").toString
    assert(p.contains("partial_max"), "CDC compaction must map-side combine")
    assert(!p.contains("Window"), "latest-per-key must not need a window")
  }

  test("e_gap_fill: spine explode is driven by a 1-row aggregate, join stays equi") {
    val p = plan("e_gap_fill").toString
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("etl pipeline: conform collapses to a single Project per source branch (no shuffle)") {
    val engine = new graft.etl.MultiSourceAdEtl(graft.etl.Configs.apsl)
    val p = engine.run(spark, graft.etl.Fixtures.dir("apsl"), capitalize = true)
      .queryExecution.sparkPlan.toString
    assert(!p.contains("Exchange"), "reference-surface ETL must be shuffle-free")
    assert(p.contains("Union"))
  }

  test("q_histogram: literal-bound buckets partial-aggregate; orders scan prunes to one column") {
    val p = plan("q_histogram").toString
    assert(p.contains("partial_count"), "histogram must map-side combine")
    assert(scanOf("q_histogram", "orders").requiredSchema.fieldNames.toSeq ==
      Seq("o_totalprice"))
  }

  test("e_transition_matrix / e_dedup_window: windows stay partitioned (no global sort)") {
    assert(!plan("e_transition_matrix").toString.contains("SinglePartition"),
      "lag window must partition by user_id; p-window by prev_type")
    assert(!plan("e_dedup_window").toString.contains("SinglePartition"),
      "dedup row_number must partition by (user, type, win)")
  }

  test("s_pq_topk: literal codes + ADC map — one narrow scan, zero exchanges") {
    // r21: per-subspace codes are ArgmaxSim literals and the ADC LUT is a
    // literal (code → qd) map, so the whole scoring pass is one narrow
    // codegen'd projection + TakeOrdered (the former shape exploded every
    // vector ×4, broadcast-joined the codebook and shuffled the stream
    // through two groupBys).
    val p = plan("s_pq_topk").toString
    assert(p.contains("argmax_sim"), "per-subspace codes must be literal ArgmaxSim")
    assert(!p.contains("Exchange"), "the scoring pass must not shuffle")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not globally sort")
  }

  test("c_url_canon / t_hapax_ratio: narrow maps + partial-agg'd groupBys, no nested loop") {
    val pu = plan("c_url_canon").toString
    assert(pu.contains("partial_count") && !pu.contains("NestedLoop"))
    val ph = plan("t_hapax_ratio").toString
    assert(ph.contains("partial_count") && !ph.contains("NestedLoop"))
  }

  test("q_interval_overlap: deltas partial-aggregate before the bounded running-sum window") {
    val p = plan("q_interval_overlap").toString
    assert(p.contains("partial_sum"), "per-day deltas must map-side combine")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "sweep line must never become an interval self-join")
  }

  test("c_domain_blocklist: deny list rides a broadcast left-anti join") {
    val p = plan("c_domain_blocklist").toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "blocklist must broadcast, corpus must not shuffle for the filter")
  }

  test("q_rfm_segment: quintile thresholds broadcast — no ntile, no global window") {
    val p = plan("q_rfm_segment").toString
    assert(!p.contains("Window"),
      "RFM scores must come from broadcast percentile cuts, not ntile windows")
    assert(p.contains("partial_max") || p.contains("partial_count"),
      "per-customer aggregate must map-side combine")
  }

  test("q_skew_detect: histogram-of-counts aggregates, never sorts or windows") {
    val p = plan("q_skew_detect").toString
    assert(!p.contains("Window") && !p.contains("TakeOrdered"))
    assert(p.contains("partial_count"))
  }

  test("e_path_trigrams: both lags share ONE window pass; top-10 is TakeOrdered") {
    val windows = plan("e_path_trigrams").collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 1,
      s"lag(1) and lag(2) must share a single window sort, got ${windows.size}")
    assert(plan("e_path_trigrams").toString.contains("TakeOrderedAndProject"))
  }

  test("q_pareto_share: concentration report never sorts customers") {
    val p = plan("q_pareto_share").toString
    assert(!p.contains("Window") && !p.contains("TakeOrdered"))
  }

  test("s_mips_topk: augmented top-k is TakeOrdered over a broadcast query side") {
    val p = plan("s_mips_topk").toString
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"), "1-row query side must broadcast")
  }

  test("q_window_dist: unhinted supplier join (AQE broadcasts here); windows stay partitioned") {
    val df = SparkEntry.queries("q_window_dist")(spark, TestSpark.sf0001)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.contains("BroadcastHashJoin"),
      "AQE should broadcast the small supplier side at test SF")
    assert(!ep.contains("CartesianProduct") && !ep.contains("NestedLoop"))
    // both rank functions share the nation-partitioned window, never global
    // (pre-AQE tree: AdaptiveSparkPlanExec hides children from collect)
    val windows = plan("q_window_dist").collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty &&
      windows.forall(!_.toString.contains("SinglePartition")),
      "percent_rank/cume_dist must partition by nation")
  }

  test("t_pmi_topk: unigram joins unhinted (AQE broadcasts here); top-20 is TakeOrdered") {
    val df = SparkEntry.queries("t_pmi_topk")(spark, TestSpark.sf0001)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.contains("BroadcastHashJoin"),
      "AQE should broadcast the vocab sides at test SF")
    assert(ep.contains("TakeOrderedAndProject"), "top-20 must never sort the pair space")
  }

  test("s_batch_topk: one corpus scan + one broadcast batch; per-query windows partitioned") {
    // exactly two embeddings scans: the 8-row query batch and the corpus
    assert(scans("s_batch_topk").size == 2)
    val p = plan("s_batch_topk")
    assert(p.toString.contains("BroadcastNestedLoopJoin"),
      "the query batch rides a broadcast cross join against the corpus scan")
    assert(!p.toString.contains("SortMergeJoin") && !p.toString.contains("CartesianProduct"))
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(!_.toString.contains("SinglePartition")),
      "rank assignment must partition by qid")
  }

  test("s_binary_hamming: Hamming top-k is TakeOrdered over a broadcast 1-row signature") {
    val p = plan("s_binary_hamming").toString
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"), "the query signature must broadcast")
  }

  test("s_silhouette: bounded centroid table broadcasts; no pairwise vector join") {
    val p = plan("s_silhouette").toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the |labels|-row centroid table must ride a broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "silhouette must never shuffle-join vectors against vectors")
  }

  test("s_intra_diversity: the pairwise statistic plans with ZERO joins on vectors") {
    // the sum-vector identity: only the 5-row (ssq ⨝ n) label join remains
    val p = plan("s_intra_diversity").toString
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
    assert(scans("s_intra_diversity").forall(
      _.metadata("Location").contains("embeddings.parquet")))
  }

  test("t_textrank: vocabulary-sized iteration joins, top-20 is TakeOrdered") {
    val p = plan("t_textrank").toString
    assert(p.contains("TakeOrderedAndProject"), "top-20 must never globally sort")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("c_dsir_weights: vocab join left unhinted (AQE broadcasts at test SF)") {
    val df = SparkEntry.queries("c_dsir_weights")(spark, TestSpark.sf0001)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.contains("BroadcastHashJoin"),
      "AQE should broadcast the vocab log-ratio side at test SF")
    assert(!ep.contains("CartesianProduct"))
  }

  test("e_seasonal_anomaly: profile and stats broadcast; panel never self-joins") {
    val p = plan("e_seasonal_anomaly").toString
    assert(p.contains("BroadcastHashJoin"),
      "the types×24 profile and per-type stats must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "no shuffle join anywhere in the residual pipeline")
  }

  test("e_cms_freq: sketch lives on broadcast cells; events scan reads one column") {
    val p = plan("e_cms_freq").toString
    assert(p.contains("BroadcastHashJoin"),
      "counter/estimate joins must ride the vocab-sized broadcast")
    assert(!p.contains("SortMergeJoin"),
      "only the exact per-type aggregate may touch data volume")
    assert(scanOf("e_cms_freq", "events").requiredSchema.fieldNames.toSet ==
      Set("event_type"))
    assert(p.contains("partial_count"), "exact counts partial-aggregate map-side")
  }

  test("q_cdc_apply: compaction is one partial-agg'd max_by — no window, no sort-merge") {
    val p = plan("q_cdc_apply")
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "latest-per-key must not use row_number")
    assert(p.toString.contains("partial_max_by"),
      "max_by must merge map-side so the shuffle carries one candidate per key-partition")
    assert(scanOf("q_cdc_apply", "orders").requiredSchema.fieldNames.toSet ==
      Set("o_orderkey", "o_totalprice", "o_orderstatus"))
  }

  test("t_bm25_topk: postings-only shuffle, broadcast idf/stats, TakeOrdered top-k") {
    val p = plan("t_bm25_topk").toString
    assert(p.contains("TakeOrderedAndProject(limit=15"))
    assert(p.contains("BroadcastHashJoin"), "idf (3 rows) must broadcast")
    assert(scanOf("t_bm25_topk", "documents").requiredSchema.fieldNames.toSet ==
      Set("doc_id", "text"))
  }

  test("q_benford_qa: one partial-agg'd pass, single pruned column") {
    val p = plan("q_benford_qa").toString
    assert(p.contains("partial_count"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(scanOf("q_benford_qa", "lineitem").requiredSchema.fieldNames.toSet ==
      Set("l_extendedprice"))
  }

  test("e_trend_ols: no windows anywhere; moment sums partial-aggregate") {
    val p = plan("e_trend_ols")
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "OLS must come from moment sums, not running windows")
    assert(p.toString.contains("partial_sum"))
  }

  test("s_semdedup: literal flat-path assignment; pairwise meets via hash join") {
    // r21: the flat-path Lloyd rounds are narrow ArgmaxSim projections
    // (no assignment exchange left to reuse — the former shape shuffled
    // the embedding payload through two groupBy(vec_id) aggregates); the
    // cluster-local pairwise stage meets via a hash join on cl, never a
    // cartesian.
    val df = SparkEntry.queries("s_semdedup")(spark, TestSpark.sf0001)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.contains("argmax_sim"),
      "flat-path assignment must be the literal ArgmaxSim projection")
    assert(!ep.contains("CartesianProduct"))
  }

  test("t_rake_topk: island windows partition by document; top-15 is TakeOrdered") {
    val p = plan("t_rake_topk")
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty &&
      windows.forall(!_.toString.contains("SinglePartition")),
      "phrase segmentation must stay per-document")
    assert(p.toString.contains("TakeOrderedAndProject(limit=15"))
  }

  test("e_shapley_attrib: lattice math rides broadcasts; data passes are aggregates") {
    val df = SparkEntry.queries("e_shapley_attrib")(spark, TestSpark.sf0001)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.contains("BroadcastHashJoin"),
      "coalition/set joins must broadcast the ≤2^n-row sides")
    assert(!ep.contains("SortMergeJoin"),
      "nothing data-sized may shuffle-join")
  }

  test("e_forward_fill and e_cuped: fill/adjustment windows and scalars stay bounded") {
    val windows = plan("e_forward_fill").collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // partitioned by event_type over the calendar-bounded spine (documented)
    assert(windows.nonEmpty &&
      windows.forall(!_.toString.contains("SinglePartition")))
    val p = plan("e_cuped")
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "CUPED is two aggregates plus broadcast scalars — no windows")
  }

  test("q_quantile_sketch: pruned scans, map-side count, bottom-k is TakeOrdered") {
    // both lineitem passes (sketch + exact referee) read only needed columns
    scans("q_quantile_sketch").foreach { sc =>
      assert(sc.requiredSchema.fieldNames.toSet.subsetOf(
        Set("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")),
        s"lineitem scan over-reads: ${sc.requiredSchema.fieldNames.mkString(",")}")
    }
    val p = plan("q_quantile_sketch").toString
    // segment counts partial-aggregate before their shuffle
    assert(p.contains("partial_count"), "theta pass must map-side combine")
    // the merged keep-k-of-the-union is a limit, never a global sort
    assert(p.contains("TakeOrderedAndProject(limit=256"),
      "sketch merge must TakeOrdered, not sort the union")
  }

  test("s_hybrid_rrf: both tower cuts and the fused cut are TakeOrdered; doc filter pushed") {
    val p = plan("s_hybrid_rrf").toString
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 3,
      "bm25 top-50, cosine top-50 and fused top-10 must all TakeOrdered")
    // the query-doc exclusion reaches both parquet scans
    assert(scanOf("s_hybrid_rrf", "documents").metadata("PushedFilters")
      .contains("Not(EqualTo(doc_id,0))"))
  }

  test("q_skyline: orders scan pruned; the data-sized sweep window stays bucket-partitioned") {
    assert(scanOf("q_skyline", "orders").requiredSchema.fieldNames.toSet ==
      Set("o_totalprice", "o_orderdate"))
    val windows = plan("q_skyline").collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 2, "strict-prefix window + in-bucket sweep window")
    // exactly one single-partition window — the one over the <= 256-row
    // bucket-max table; the sweep over the distinct points partitions by b
    assert(windows.count(_.toString.contains("SinglePartition")) <= 1,
      "the data-sized sweep must never collapse to one partition")
    assert(windows.exists(!_.toString.contains("SinglePartition")),
      "the in-bucket sweep window must be key-partitioned")
  }

  test("final-wave scans pruned; balance-sample joins broadcast; snapshot diff is an equi-join") {
    // d_sorted_neighborhood: only (doc_id, text) leave the parquet scan
    assert(scanOf("d_sorted_neighborhood", "documents")
      .requiredSchema.fieldNames.toSet == Set("doc_id", "text"))
    // d_snapshot_diff: pruned scans, full-outer HASH equi-join on the crawl
    // key — never a cartesian
    assert(scanOf("d_snapshot_diff", "documents")
      .requiredSchema.fieldNames.toSet == Set("doc_id", "text"))
    val sd = plan("d_snapshot_diff").toString
    assert(sd.contains("FullOuter"), "diff must be a full-outer join")
    assert(!sd.contains("Cartesian"))
    // s_cluster_balance_sample: the k-row rate table joins back broadcast,
    // and only (vec_id, embedding) leave the embeddings scan
    assert(scanOf("s_cluster_balance_sample", "embeddings")
      .requiredSchema.fieldNames.toSet == Set("vec_id", "embedding"))
    val cb = plan("s_cluster_balance_sample").toString
    assert(cb.contains("BroadcastHashJoin"),
      "the per-cell rate join must broadcast the k-row side")
    assert(!cb.contains("SortMergeJoin"),
      "no data-sized sort-merge join belongs in the balance-sample plan")
  }
}
