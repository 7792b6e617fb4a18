package graft.queries

import graft.{SparkSpec, TestSpark}

/** t_bpe_merges_deep — the deep (K = Text.deepK = 1000) INCREMENTAL
  * driver-loop trainer's contract:
  * (1) path equivalence: the bounded driver loop (trainLocal, now
  * delta-updating pair counts per merge) and the DISTRIBUTED per-round
  * chain (bpeChainFrom) produce byte-identical merges over the same
  * bigram unit table — the rule/argmax/tie-break are one algorithm in
  * two execution shapes, and the incremental counts must stay EXACT at
  * every round; (2) the full K-round schedule is structurally sound
  * (K rows, consecutive iterations, every new_symbol is its pair with
  * the separator removed, weighted counts positive); (3) the vocabulary
  * guard fails fast past the bounded-scalar-extract license instead of
  * collecting an unbounded table. Value-level correctness of all K
  * rounds is the DuckDB oracle's job (one recursive CTE).
  */
class BpeDeepSpec extends SparkSpec {

  private val sf = TestSpark.sf0001

  test("driver loop == distributed chain on the same bigram units (first 5 rounds)") {
    val units = Text.bigramUnits(spark, sf)
    val (local, _) = Text.trainLocal(
      units.collect().map(r => (r.getString(0), r.getLong(1))).toSeq, 5)
    val (distributed, _) = Text.bpeChainFrom(units, 5)
    val dist = distributed.reduce(_.unionAll(_)).orderBy("it").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(local == dist,
      "driver-loop merges diverged from the distributed per-round chain")
  }

  test("incremental pair counts == full per-round recount, deep into the schedule") {
    // the delta-update rule must reproduce the exact counts a full
    // recount would see at EVERY round — checked by replaying the
    // trainer's own merge table through a brute-force recount trainer
    val units = Text.bigramUnits(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val k = 300
    val fast = Text.trainLocal(units, k)._1
    // referee segmentation + tie-break mirror the ENGINE contract, not
    // Scala String conveniences: code-point symbols (Text.codePointTokens
    // — the r16 fix this spec pins) and UTF-8 byte order on count ties
    // (Text.utf8Less — String `.min` is UTF-16 order, which coincides on
    // ASCII corpora and would mask a regression; r15 ADVICE)
    var syms = units.map { case (w, n) =>
      (Text.codePointTokens(w).mkString(" ", " ", " "), n)
    }
    val slow = (1 to k).map { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      for ((sym, n) <- syms) {
        val toks = sym.trim.split(" ")
        var i = 0
        while (i < toks.length - 1) {
          val pr = toks(i) + " " + toks(i + 1)
          counts.update(pr, counts.getOrElse(pr, 0L) + n)
          i += 1
        }
      }
      val maxCnt = counts.values.max
      val best = counts.collect { case (p, c) if c == maxCnt => p }
        .reduceLeft((a, b) => if (Text.utf8Less(b, a)) b else a)
      val from = " " + best + " "; val to = " " + best.replace(" ", "") + " "
      syms = syms.map { case (sym, n) => (sym.replace(from, to).replace(from, to), n) }
      (it, best, best.replace(" ", ""), maxCnt)
    }
    assert(fast == slow, "incremental trainer diverged from the full recount")
  }

  test("the deep schedule is structurally sound at both SFs") {
    for (d <- Seq(sf, TestSpark.sf001)) {
      val rows = Text.queries("t_bpe_merges_deep")(spark, d).collect()
      assert(rows.length == Text.deepK, s"$d: expected ${Text.deepK} merges")
      assert(rows.map(_.getInt(0)).toSeq == (1 to Text.deepK),
        s"$d: iterations must be consecutive")
      rows.foreach { r =>
        assert(r.getString(2) == r.getString(1).replace(" ", ""))
        assert(r.getLong(3) > 0L)
      }
      // deep rounds genuinely extend the vocabulary: K distinct symbols
      assert(rows.map(_.getString(2)).distinct.length == Text.deepK)
    }
  }

  test("t_bpe_encode_deep: ledger closes over the corpus bigram stream; deep vocab compresses") {
    import org.apache.spark.sql.functions._
    val rows = Text.queries("t_bpe_encode_deep")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the ledger covers exactly the corpus's bigram-unit occurrences
    val total = Text.bigramUnits(spark, sf)
      .agg(sum("n")).head.getLong(0)
    assert(rows.map(_.getAs[Long]("n_units")).sum == total)
    rows.foreach { r =>
      val fert = r.getAs[Double]("fertility")
      // deepK merges on a ~916-unit vocabulary must compress well below
      // the raw char count (~12 chars/unit) but can't go under 1
      assert(fert >= 1.0 && fert < 12.0, s"fertility $fert out of range")
      assert(r.getAs[Long]("n_bpe_tokens") >= r.getAs[Long]("n_units"))
    }
  }

  test("saturation fails fast instead of silently truncating the merge table") {
    // a unit with no adjacent symbol pairs leaves round 1 with an empty
    // pair inventory — the loop must refuse, not emit < K rows
    val e = intercept[IllegalArgumentException] {
      Text.trainLocal(Seq(("x", 1L)), 1)._1
    }
    assert(e.getMessage.contains("saturated"))
  }

  test("vocabulary guard fails fast past the bounded-scalar-extract license") {
    // one synthetic document whose 220,001 distinct words make 220,000
    // distinct bigram units — past the 200k license (the
    // VocabularyGuardSpec device)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe-guard").toString
    try {
      val text = (0 until 220001).map(i => f"w$i%06d").mkString(" ")
      Seq((1L, text, "en", "web", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val e = intercept[IllegalArgumentException] {
        Text.queries("t_bpe_merges_deep")(spark, dir).collect()
      }
      assert(e.getMessage.contains("bounded-scalar-extract"))
      assert(e.getMessage.contains("t_bpe_merges"))
    } finally graft.util.Dirs.deleteRecursively(new java.io.File(dir))
  }
}
