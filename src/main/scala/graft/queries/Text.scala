package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

import Tables._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token counting, language breakdown, quality scoring (length / punctuation
  * / stopword ratios), stopword-based language ID, and document
  * fingerprinting. All pure codegen'd expressions (no UDFs) — at 100 TB each
  * is a narrow map over the scan followed by a partial-aggregating groupBy.
  */
object Text {

  /** Explicit whitespace class, spelled identically for Java regex (Spark)
    * and RE2 (the DuckDB oracle). A bare `\s` silently diverges between the
    * engines: Java's includes vertical tab (\x0B), RE2's does not — so every
    * token-based query here uses this class on BOTH sides and stays
    * byte-identical even on VT input.
    */
  val wsRe = "[ \\t\\n\\x0B\\f\\r]+"

  /** Same class, negated-usable single-char form (for use inside `[^...]`). */
  val wsChars = " \\t\\n\\x0B\\f\\r"

  /** Whitespace tokenization of normalized text. */
  def tokens(c: Column): Column = split(trim(c), wsRe)

  /** Normalized form used for fingerprinting/dedup: collapse whitespace,
    * lowercase, trim.
    */
  def normText(c: Column): Column = lower(trim(regexp_replace(c, wsRe, " ")))

  val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Deep BPE merge-schedule depth (t_bpe_merges_deep / t_bpe_encode_deep).
    * The incremental trainer (trainLocal) makes per-round cost
    * merge-touched-units-bound, and the RECURSIVE-CTE oracle replay is
    * linear in K (5 s at K = 1000 vs ~30 min extrapolated for the
    * unrolled chain), so the bound is the CORPUS, not the tooling: the
    * bigram inventory saturates at 1047 rounds on the sf0.001/sf0.01
    * vocabulary (916 units) and 1062 at sf0.1 (931) — measured by
    * running the trainer to exhaustion — and verbatim ScaleUp
    * replication preserves the merge sequence exactly (uniform count
    * scaling), so K = 1000 clears every gated corpus with the
    * saturation require() as the loud floor.
    */
  private[queries] val deepK = 1000

  /** The whitespace-word unit vocabulary (w, n) of `docs` (t_bpe_merges,
    * and collected by the k = 5 encode entries). */
  private[queries] def wordUnitsOf(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))

  /** The adjacent-word BIGRAM stream `w` of `docs`, carrying the `keep`
    * columns: consecutive whitespace tokens joined by '_'. */
  private def bigramsOf(docs: DataFrame, keep: String*): DataFrame =
    docs.select(keep.map(col) :+ tokens(col("text")).as("sp"): _*)
      .select(keep.map(col) :+ explode(expr(
        "zip_with(slice(sp, 1, size(sp) - 1), slice(sp, 2, size(sp) - 1), " +
          "(a, b) -> concat(a, '_', b))")).as("w"): _*)
      .filter(col("w") =!= "_")

  /** The adjacent-word BIGRAM unit vocabulary (t_bpe_merges_deep) —
    * phrase-level units in the SentencePiece style, whose richer pair
    * inventory sustains the DEEP merge schedule (the 31-word corpus
    * vocabulary saturates plain word units after 89 merges; bigram units
    * measured > 300 at every testdata SF). Still Heaps-bounded: one
    * distributed corpus pass, the unit table never re-scans the corpus.
    */
  private[queries] def bigramUnits(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    bigramsOf(t(s, d, "documents"))
      .groupBy("w").agg(count(lit(1)).as("n"))

  /** A driver-built frame of `rows` with the nullable columns `fields`. */
  private def localFrame(s: org.apache.spark.sql.SparkSession,
      rows: Seq[Row], fields: (String, DataType)*): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(fields.map { case (n, dt) => StructField(n, dt, nullable = true) }))

  /** The (w, n_sym) symbol count of every unit of a trained vocabulary. */
  private def symbolCounts(s: org.apache.spark.sql.SparkSession,
      finalSyms: Seq[(String, String)]): DataFrame =
    localFrame(s, finalSyms.map { case (w, sym) =>
      Row(w, sym.trim.split(" ").length.toLong)
    }, "w" -> StringType, "n_sym" -> LongType)

  /** The shared BPE training chain (see the t_bpe_merges comment): word
    * counts → shared-separator symbol strings → K unrolled (pair-count,
    * argmax, greedy replace-twice) rounds. Returns the per-iteration
    * merge rows and the final segmented vocabulary (w, sym).
    */
  private def bpeChain(s: org.apache.spark.sql.SparkSession, d: String,
      k: Int = 5): (Seq[DataFrame], DataFrame) =
    bpeChainFrom(wordUnitsOf(t(s, d, "documents")), k)

  /** The distributed merge chain over an arbitrary (w, n) unit table —
    * word units for the corpus entries; BpeDeepSpec drives it over the
    * bigram units to pin the driver-loop/distributed-path equivalence.
    */
  private[queries] def bpeChainFrom(units: DataFrame,
      k: Int): (Seq[DataFrame], DataFrame) = {
    val words = units
      .persist()
    // transform over positions: substring(w, i, 1) needs expr form (the
    // substring builtin takes column positions only in SQL text)
    var v = words.select(col("w"),
      concat(lit(" "),
        concat_ws(" ", expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")),
        lit(" ")).as("sym"), col("n"))
    val merges = (1 to k).map { it =>
      val pairs = v
        .select(col("n"), explode(expr(
          "zip_with(slice(split(trim(sym), ' '), 1, size(split(trim(sym), ' ')) - 1), " +
          "slice(split(trim(sym), ' '), 2, size(split(trim(sym), ' ')) - 1), " +
          "(a, b) -> concat(a, ' ', b))")).as("pr"))
        .groupBy("pr").agg(sum("n").as("cnt"))
      val best = pairs.orderBy(col("cnt").desc, col("pr").asc).limit(1)
      // localCheckpoint per round: v is referenced twice per iteration
      // (the pair count and the next v), so a lazy chain re-derives 2^k
      // subplan copies by round k; materializing the vocab-sized table
      // (bounded under Heaps' law) keeps every round one aggregate + one
      // narrow map — the CC-round discipline
      v = v.crossJoin(broadcast(best))
        .select(col("w"), expr(
          "replace(replace(sym, ' ' || pr || ' ', ' ' || replace(pr, ' ', '') || ' '), " +
          "' ' || pr || ' ', ' ' || replace(pr, ' ', '') || ' ')")
          .as("sym"), col("n"))
        .localCheckpoint()
      best.select(lit(it).as("it"), col("pr").as("pair"),
        expr("replace(pr, ' ', '')").as("new_symbol"),
        col("cnt").cast("bigint").as("cnt"))
    }
    (merges, v.select(col("w"), col("sym")))
  }

  /** t_bpe_encode_bytes over the full corpus, or (its stratum twin) over
    * the md5 doc_id stratum. */
  private def bpeEncodeBytes(s: org.apache.spark.sql.SparkSession, d: String,
      stratum: Option[Int]): DataFrame =
    bpeEncodeBytesOver(inStratum(t(s, d, "documents"), "doc_id", stratum))

  /** The byte-fallback encode pipeline over an arbitrary documents slice
    * (full corpus for t_bpe_encode_bytes; the 1-in-41 md5 doc_id stratum
    * for its _s41 twin — train corpus and encode stream are the SAME
    * slice): K=5 merge chain over the slice's word units, token
    * vocabulary = training alphabet ∪ merge outputs, the é-variant
    * distinct vocabulary segmented by the learned merges in rank order
    * (broadcast 1-row folds, replace-twice), stream cost = 1 token
    * in-vocabulary / UTF-8 octets on fallback. Plan shape per the
    * t_bpe_encode_bytes entry comment.
    */
  private def bpeEncodeBytesOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    // r20 optimization (guide §1.2 "the distributed algorithm" / §2.4):
    // ONE distributed corpus pass (the unit count) is all this entry
    // fundamentally needs from the cluster — the K = 5 merge rounds, the
    // variant-vocabulary segmentation and the fallback costing all
    // operate on the Heaps-bounded unit table, so they run driver-side
    // on the collected units (the t_bpe_merges_deep license + loop;
    // trainLocal is byte-identical to the distributed chain —
    // BpeSpec/BpeDeepSpec, plus BpeEncodeBytesLocalSpec's k = 5
    // word-unit pin). The previous shape paid 5 localCheckpoint rounds
    // + 5 broadcast crossJoin folds + a distributed vocab join for work
    // whose input is the same bounded table (measured 2.2 s → the
    // corpus-pass floor at sf0.1). The encode STREAM side stays fully
    // distributed: one explode + a vocab join + one partial-agg'd
    // groupBy, so at 100 TB the corpus pass still dominates.
    val units = collectWordUnits(docs, "t_bpe_encode_bytes")
    val (merges, _) = trainLocal(units, 5)
    // token vocabulary: training alphabet ∪ merge outputs
    val known: Set[String] =
      units.iterator.flatMap(u => codePointTokens(u._1)).toSet ++
        merges.iterator.map(_._3)
    // both engines count CODE POINTS (Spark length == DuckDB length);
    // the é literal is the same U+00E9 the SQL replay appends
    def variantLocal(w: String): String =
      if (w.codePointCount(0, w.length) % 3 == 0) w + "é" else w
    def variant(c: Column): Column =
      when(pmod(length(c), lit(3)) === 0, concat(c, lit("é")))
        .otherwise(c)
    // distinct variant words, segmented by the learned merges in rank
    // order — the trainer's exact replace-twice rule, then costed: 1
    // token in-vocabulary, UTF-8 octets on fallback
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val costedRows = units.map(u => variantLocal(u._1)).distinct.map { w =>
      var sym = codePointTokens(w).mkString(" ", " ", " ")
      merges.foreach { case (_, pair, merged, _) =>
        val from = " " + pair + " "
        val to = " " + merged + " "
        sym = sym.replace(from, to).replace(from, to)
      }
      var nTok = 0L
      var nFb = 0L
      sym.trim.split(" ").foreach { t =>
        if (known.contains(t)) nTok += 1L
        else {
          val b = t.getBytes(utf8).length.toLong
          nTok += b
          nFb += b
        }
      }
      Row(w, nTok, nFb)
    }
    val costed = localFrame(s, costedRows,
      "w" -> StringType, "n_tok" -> LongType, "n_fb" -> LongType)
    docs
      .select(col("lang"), explode(tokens(col("text"))).as("w0"))
      .filter(col("w0") =!= "")
      .select(col("lang"), variant(col("w0")).as("w"))
      .join(costed, "w")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum("n_tok").cast("bigint").as("n_tokens"),
        sum("n_fb").cast("bigint").as("n_fallback_bytes"),
        round(sum("n_tok").cast("double") / count(lit(1)), 4).as("fertility"))
      .orderBy("lang")
  }

  /** Code-point segmentation of a unit — the initial BPE symbol table.
    * One token per Unicode CODE POINT, not per UTF-16 char: Spark's
    * `substring`/`length` and DuckDB's `substr`/`length` both count code
    * points, so `w.map(_.toString)` (which splits a supplementary-plane
    * character into two lone-surrogate tokens) would diverge the driver
    * loop's initial vocabulary from both engines' — and a lone surrogate
    * has no UTF-8 encoding, which would also poison utf8Less (r15
    * ADVICE). Iterating by code point keeps every token a well-formed
    * UTF-8 sequence.
    */
  private[queries] def codePointTokens(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** UTF-8 byte-order comparison — the tie-break order the distributed
    * chain's `min(pair)` and the DuckDB replay both use. String's natural
    * order (UTF-16 code units) diverges for supplementary-plane
    * characters: surrogates (0xD800–0xDFFF) sort BELOW 0xE000+ BMP chars
    * in UTF-16 but their 4-byte UTF-8 sequences (0xF0…) sort ABOVE the
    * 3-byte ones (0xE…), so the driver loop must compare bytes.
    */
  private[queries] def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The driver-side Sennrich merge loop over a BOUNDED unit vocabulary:
    * merge rows AND the final (unit → symbol-string) vocabulary — one
    * loop, every entry but t_bpe_merges as consumer, the bpeChain shape.
    * This is how production BPE trainers run deep schedules: the ONE
    * corpus-sized pass (the unit count) stays distributed; the K merge
    * rounds then iterate on the Heaps-bounded unit table, where a
    * distributed round would cost more in job scheduling than compute
    * (measured: the k=5 distributed chain spends its time in per-round
    * localCheckpoint jobs, not arithmetic). The e_pagerank/e_markov
    * bounded-scalar-extract license, guarded the same way at the call
    * site. The merge rule is byte-identical to the distributed chain and
    * both engines' replace(): literal, non-overlapping, left-to-right,
    * applied twice (BpeSpec pins the equivalence class); the argmax is
    * (count desc, UTF-8-smallest pair, see [[utf8Less]]).
    *
    * INCREMENTAL pair counts (VERDICT r14 ask #3, the Sennrich-trainer
    * update rule): a merge only changes the pair inventory of units that
    * CONTAIN the merged pair, so each round subtracts the affected
    * units' old pair multisets, applies the merge, and adds the new ones
    * back — per-round cost is merge-touched-units-bound, not O(V). The
    * argmax/tie-break/merge rule are byte-identical to the full-recount
    * form (counts are exact at every round — BpeDeepSpec pins driver
    * loop ≡ distributed chain), which is what lets the same
    * 200k-unit license sustain K in the thousands.
    */
  private[queries] def trainLocal(unitCounts: Seq[(String, Long)], k: Int)
      : (Seq[(Int, String, String, Long)], Seq[(String, String)]) = {
    val words = unitCounts.map(_._1).toArray
    val ns = unitCounts.map(_._2).toArray
    val syms = unitCounts.map { case (w, _) =>
      codePointTokens(w).mkString(" ", " ", " ")
    }.toArray
    def pairsOf(sym: String): Array[String] = {
      val toks = sym.trim.split(" ")
      Array.tabulate(math.max(toks.length - 1, 0))(i => toks(i) + " " + toks(i + 1))
    }
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    // pair → indices of units whose CURRENT segmentation contains it
    val where = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.BitSet]
    var ui = 0
    while (ui < syms.length) {
      pairsOf(syms(ui)).foreach { pr =>
        counts.update(pr, counts.getOrElse(pr, 0L) + ns(ui))
        where.getOrElseUpdate(pr, scala.collection.mutable.BitSet.empty) += ui
      }
      ui += 1
    }
    val merges = (1 to k).map { it =>
      // saturation must fail LOUDLY: an empty pair inventory past round
      // `it` would silently truncate the merge table vs the K-round
      // oracle (zero-count entries are purged each round, so emptiness
      // here == the full recount's emptiness)
      require(counts.nonEmpty,
        s"t_bpe_merges_deep: pair inventory saturated at round $it (< $k)")
      var best: String = null
      var maxCnt = Long.MinValue
      counts.foreach { case (p, c) =>
        if (c > maxCnt || (c == maxCnt && utf8Less(p, best))) { best = p; maxCnt = c }
      }
      val merged = best.replace(" ", "")
      val from = " " + best + " "
      val to = " " + merged + " "
      val affected = where.getOrElse(best, scala.collection.mutable.BitSet.empty).toArray
      affected.foreach { i =>
        val oldSym = syms(i)
        val oldPrs = pairsOf(oldSym)
        oldPrs.foreach { pr => counts.update(pr, counts(pr) - ns(i)) }
        val newSym = oldSym.replace(from, to).replace(from, to)
        syms(i) = newSym
        val newPrs = pairsOf(newSym)
        newPrs.foreach { pr =>
          counts.update(pr, counts.getOrElse(pr, 0L) + ns(i))
        }
        val oldSet = oldPrs.toSet
        val newSet = newPrs.toSet
        (oldSet diff newSet).foreach { pr =>
          where.get(pr).foreach { set =>
            set -= i
            if (set.isEmpty) where.remove(pr)
          }
        }
        (newSet diff oldSet).foreach { pr =>
          where.getOrElseUpdate(pr, scala.collection.mutable.BitSet.empty) += i
        }
      }
      counts.filterInPlace((_, c) => c > 0L)
      (it, best, merged, maxCnt)
    }
    (merges, words.toSeq.zip(syms.toSeq))
  }

  /** Shared guard + collect for the deep-BPE entries: the bigram unit
    * table under the bounded-scalar-extract license (the e_pagerank
    * device — past the bound the entry fails fast and the distributed
    * per-round chain is the correct tool).
    */
  private def collectBigramUnits(s: org.apache.spark.sql.SparkSession,
      d: String, caller: String): Seq[(String, Long)] = {
    val units = bigramUnits(s, d).persist()
    try {
      val nUnits = units.count()
      require(nUnits <= 200000L,
        s"$caller: $nUnits bigram units exceed the " +
          "bounded-scalar-extract license (200000); a vocabulary this " +
          "large needs the distributed per-round chain (t_bpe_merges)")
      units.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    } finally units.unpersist()
  }

  /** [[collectBigramUnits]] for the WORD unit vocabulary of an arbitrary
    * documents slice (r20 optimization: the k = 5 encode entries train
    * driver-side like the deep entries — one distributed corpus pass,
    * then the Heaps-bounded loop). The license probe is a limit-collect:
    * at most 200001 rows ever reach the driver, and past the bound the
    * entry fails fast toward the distributed chain (t_bpe_merges).
    */
  private[queries] def collectWordUnits(docs: DataFrame,
      caller: String): Seq[(String, Long)] = {
    val rows = wordUnitsOf(docs).limit(200001).collect()
    require(rows.length <= 200000,
      s"$caller: word units exceed the bounded-scalar-extract license " +
        "(200000); a vocabulary this large needs the distributed " +
        "per-round chain (t_bpe_merges)")
    rows.map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** BM25 (k1=1.2, b=0.75) of every document of `docs` (doc_id, text)
    * for the fixed 3-term query, as (doc_id, bm25 rounded to 6 dp) — the
    * lexical tower of t_bm25_topk and s_hybrid_rrf. One data-sized pass
    * (explode → filter to the 3 query terms, so the shuffle carries only
    * matching postings, never the full token stream); df/idf and the
    * (N, avgdl) stats are single-row/3-row broadcasts. avgdl is exact on
    * both engines (token counts are integer-valued doubles, their sum is
    * exact), every per-posting factor is a fixed-order expression, and
    * only the per-doc sum of ≤3 contributions needs the 6-dp rounding.
    * All double literals are spelled identically on both engines (2.2d,
    * 0.25d — never `1.0 + 1.2` left for one engine to constant-fold).
    */
  private[queries] def bm25(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(lower(col("text"))).as("sp"))
    val dl = toks.select(col("doc_id"), size(col("sp")).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg("dl").as("avgdl"))
    val tf = toks.select(col("doc_id"), explode(col("sp")).as("term"))
      .filter(col("term").isin("hash", "join", "filter"))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy("term")
      .agg(countDistinct("doc_id").cast("double").as("df"))
    val idf = dfreq.crossJoin(broadcast(stats))
      .select(col("term"),
        expr("ln((n_docs - df + 0.5d) / (df + 0.5d) + 1.0d)").as("idf"))
    tf.join(dl, "doc_id").join(broadcast(idf), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), expr(
        "idf * tf * 2.2d / (tf + 1.2d * (0.25d + 0.75d * dl / avgdl))")
        .as("contrib"))
      .groupBy("doc_id").agg(round(sum("contrib"), 6).as("bm25"))
  }

  /** The SQL twin of [[bm25]]: CTEs toks/dl/stats/tf/df/idf/sc over
    * `documents` filtered by `where` (empty, or " WHERE <predicate>");
    * callers sum `sc.contrib` per doc_id. */
  private[queries] def bm25CtesSql(where: String): String =
    s"""toks AS MATERIALIZED (
      |  SELECT doc_id,
      |    string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS sp
      |  FROM documents$where),
      |dl AS MATERIALIZED (SELECT doc_id, CAST(len(sp) AS DOUBLE) AS dl FROM toks),
      |stats AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
      |tf AS MATERIALIZED (
      |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      |  FROM (SELECT doc_id, unnest(sp) AS term FROM toks) u
      |  WHERE term IN ('hash', 'join', 'filter') GROUP BY doc_id, term),
      |df AS (
      |  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      |  FROM tf GROUP BY term),
      |idf AS (
      |  SELECT term, ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf
      |  FROM df CROSS JOIN stats),
      |sc AS (
      |  SELECT doc_id,
      |    idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS contrib
      |  FROM tf JOIN dl USING (doc_id) JOIN idf USING (term) CROSS JOIN stats)""".stripMargin

  val queries: Map[String, Q] = Map(
    // BPE merge TRAINING (Sennrich et al. 2016) — the canonical tokenizer
    // construction step, distributed the way real trainers run it:
    // ONE corpus pass builds the frequency-weighted WORD VOCABULARY
    // (bounded under Heaps' law — the corpus never re-scans), then K=5
    // unrolled merge iterations run entirely on the vocab table: count
    // adjacent symbol pairs weighted by word frequency, pick the argmax
    // (ties break on the lexicographically smallest pair — both engines
    // compare the same bytes), and apply the merge. Symbol sequences are
    // SHARED-SEPARATOR STRINGS (" c1 c2 ... ") so merge application is
    // literal non-overlapping replace(" a b " → " ab ") applied TWICE.
    // THE RULE, exactly: for every pair with a ≠ b this IS classic
    // greedy left-to-right Sennrich merging — occurrences are
    // token-disjoint (an overlap would force a = b), pass one takes the
    // odd members of each back-to-back chain ("a b a b" → "ab a b": the
    // second occurrence's leading separator was consumed by the first
    // match), and after pass one the skipped occurrences sit isolated
    // between separator-free merged tokens, so pass two catches exactly
    // them ("ab a b" → "ab ab"). For a SELF-pair (a = b) over a run of
    // r identical symbols the rule is a DETERMINISTIC VARIANT of
    // greedy: pass one merges run positions (3k+1, 3k+2), pass two
    // closes the adjacent leftover tail — equal to textbook greedy for
    // r ≤ 4, divergent from r = 5 up ("z z z z z z" → "zz z zz z"
    // where textbook greedy gives "zz zz zz"). The variant,
    // not textbook greedy, is what BOTH engines and the plain-Scala
    // BpeSpec referee compute (a stateful left-to-right fold is
    // inexpressible in DuckDB 1.x SQL — list_reduce carries no struct
    // accumulator — so the shared rule is deliberately one expressible
    // as pure literal replace on both sides; BpeSpec pins the a ≠ b
    // greedy equivalence exhaustively and the r ≥ 5 divergence
    // explicitly). A merged token contains no separator, so passes can
    // never manufacture a new occurrence. Both engines'
    // replace() is literal, non-overlapping and left-to-right, so the
    // semantics are IDENTICAL cross-engine with no per-symbol lambda. Chars are drawn with the engine-neutral
    // substring(w, i, 1) construction (split-on-empty-regex keeps a
    // trailing empty element in Spark — measured, avoided). The vocab is
    // persisted across the 5 unrolled consumers (the pagerank/perplexity
    // precedent); everything per-iteration is a vocab-sized aggregate +
    // a broadcast 1-row argmax, so at 100 TB the corpus cost stays the
    // single word-count pass.
    "t_bpe_merges" -> ((s, d) => {
      val (merges, _) = bpeChain(s, d)
      merges.reduce(_.unionAll(_)).orderBy("it")
    }),

    // DEEP BPE merge schedule (VERDICT r13 ask #3, deepened to K = 1000
    // by the r14 ask): K rounds over the bigram unit vocabulary (see
    // bigramUnits — plain word units saturate at 89 on this corpus).
    // The distributed work is exactly ONE corpus pass (the unit count);
    // the K rounds run driver-side with INCREMENTAL pair counts (a
    // merge only touches units containing the merged pair — the
    // Sennrich-trainer delta rule, see trainLocal) on the collected
    // Heaps-bounded unit table under an explicit vocabulary guard (the
    // e_pagerank bounded-scalar-extract license — 200k units ≈ tens of
    // MB; past that bound the entry fails fast and the distributed
    // per-round chain (t_bpe_merges' shape) is the correct tool). Rule,
    // argmax and tie-break are byte-identical to the distributed chain
    // (trainLocal; BpeDeepSpec asserts the two paths produce the
    // SAME merges on the same units), and DuckDB replays all K rounds
    // as ONE RECURSIVE CTE (bpeDeepRecursiveCtes — linear in K, unlike
    // the unrolled chain whose bind cost grows ~K²·³). At 100 TB the
    // corpus pass dominates end-to-end cost and the loop stays
    // sub-second — iteration wall-time is merge-touched-units-bound,
    // not corpus-bound (SCALE_SF3.md round-15 note).
    "t_bpe_merges_deep" -> ((s, d) => {
      val (merges, _) = trainLocal(
        collectBigramUnits(s, d, "t_bpe_merges_deep"), deepK)
      localFrame(s, merges.map { case (it, pair, ns, cnt) =>
        Row(it, pair, ns, cnt)
      }, "it" -> IntegerType, "pair" -> StringType,
        "new_symbol" -> StringType, "cnt" -> LongType)
    }),

    // The DEEP vocabulary APPLIED (the t_bpe_encode shape at K = deepK):
    // segment every bigram unit with the K learned merges (the same
    // driver loop returns the final symbol table — one train, two
    // consumers), then ledger per language over the DISTRIBUTED bigram
    // stream: unit count, BPE tokens, fertility. The vocabulary side is
    // a bounded broadcastable table (the planner stays unhinted — the
    // c_dsir_weights discipline); the corpus side is one explode + one
    // partial-agg'd groupBy, so at 100 TB the cost is the corpus pass.
    "t_bpe_encode_deep" -> ((s, d) => {
      val (_, finalSyms) = trainLocal(
        collectBigramUnits(s, d, "t_bpe_encode_deep"), deepK)
      val sized = symbolCounts(s, finalSyms)
      bigramsOf(t(s, d, "documents"), "lang")
        .join(sized, "w")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_units"),
          sum("n_sym").cast("bigint").as("n_bpe_tokens"),
          round(sum("n_sym").cast("double") / count(lit(1)), 4).as("fertility"))
        .orderBy("lang")
    }),

    // BPE ENCODING — the trained merges APPLIED: segment every corpus
    // word with the 5 learned merges (rank order, same greedy
    // replace-twice application) and ledger the result per language:
    // whitespace tokens, BPE tokens, and fertility (BPE tokens per
    // word — the tokenizer-efficiency number multilingual pipelines
    // budget by). The per-doc side is one explode + an UNHINTED join
    // against the vocab's symbol counts (vocab grows under Heaps' law,
    // so the planner stays free to shuffle; AQE broadcasts at test SFs —
    // the c_dsir_weights discipline) + one partial-agg'd groupBy.
    "t_bpe_encode" -> ((s, d) => {
      // r20 optimization: the K = 5 training loop runs driver-side on the
      // collected Heaps-bounded word units — exactly t_bpe_encode_deep's
      // shape at K = 5 (same license guard, same trainLocal loop, pinned
      // byte-identical to the distributed chain by BpeSpec/BpeDeepSpec +
      // BpeEncodeBytesLocalSpec). The distributed-chain surface itself
      // stays oracled by t_bpe_merges; this entry's job is the ENCODE,
      // whose corpus side below is unchanged (one explode + vocab join +
      // partial-agg'd groupBy — the 100 TB cost is the corpus pass).
      val (_, finalSyms) = trainLocal(
        collectWordUnits(t(s, d, "documents"), "t_bpe_encode"), 5)
      val sized = symbolCounts(s, finalSyms)
      t(s, d, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .join(sized, "w")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum("n_sym").as("n_bpe_tokens"),
          round(sum("n_sym").cast("double") / count(lit(1)), 4).as("fertility"))
        .orderBy("lang")
    }),

    // BPE encoding with BYTE FALLBACK (VERDICT r16 ask #8) — the
    // production tokenizer contract: the token vocabulary is the
    // TRAINING alphabet (every single character seen by the trainer)
    // plus the K merge-created symbols; encoding a NEW stream, any final
    // symbol OUTSIDE that vocabulary cannot be emitted as one token and
    // falls back to its UTF-8 BYTES (SentencePiece's byte_fallback /
    // the GPT-2 byte-level floor) — cost = octet count, never an <unk>.
    // OOV pressure is synthesized in-query (the c_unicode_norm
    // discipline: both engines derive identical bytes): stream words
    // whose length % 3 == 0 get a U+00E9 suffix the ASCII training
    // corpus never saw, so its symbol misses the vocabulary and costs
    // its 2 UTF-8 bytes. Plan shape at 100 TB: the trained merges are 5
    // broadcast 1-row literals folded over the DISTINCT variant
    // vocabulary (Heaps-bounded — replace-twice per merge in rank
    // order, byte-identical to the trainer); the stream side is one
    // explode + an unhinted vocab join + one partial-agg'd groupBy —
    // the corpus pass dominates, exactly like t_bpe_encode.
    "t_bpe_encode_bytes" -> ((s, d) => bpeEncodeBytes(s, d, None)),

    // The byte-fallback encode's 1-in-41 STRATUM twin (the established
    // high-SF device, VERDICT r17 ask #6): the identical train → vocab →
    // variant-stream → fallback-cost pipeline over the md5 doc_id
    // stratum, which keeps the sf100 DuckDB replay at ~1/41 volume while
    // the engine runs the full plan shape — taking the tokenizer
    // contract to the 1000× gate alongside the index twins. Training
    // corpus and encode stream are BOTH the stratum (the tokenizer is
    // trained on, and applied to, the same slice).
    "t_bpe_encode_bytes_s41" -> ((s, d) => bpeEncodeBytes(s, d, Some(41))),

    // Whitespace + BPE-ish regex token counts per document.
    "t_token_count" -> ((s, d) =>
      t(s, d, "documents")
        .select(
          col("doc_id"),
          size(tokens(col("text"))).cast("bigint").as("n_tokens"),
          // BPE-ish: count word / punctuation token matches (RE2-safe —
          // the DuckDB oracle can't do lookbehind splits)
          regexp_count(col("text"), lit("\\w+|[^\\w" + wsChars + "]")).cast("bigint").as("n_bpeish"))
        .orderBy("doc_id")),

    // Language × source breakdown with char statistics.
    "t_lang_stats" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("cnt"),
          round(avg("n_chars"), 2).as("avg_chars"),
          sum("n_chars").as("sum_chars"))
        .orderBy("lang")),

    // Quality scoring: punctuation ratio, stopword ratio, mean token length.
    "t_quality_score" -> ((s, d) => {
      val txt = col("text")
      val toks = tokens(lower(txt))
      val nTok = size(toks)
      val stopCnt = size(filter(toks, w => w.isInCollection(stopwords)))
      t(s, d, "documents")
        .select(
          col("doc_id"),
          round((length(txt) - length(regexp_replace(txt, "[.,!?;:]", ""))).cast("double") / nullif(length(txt), lit(0)), 4).as("punct_ratio"),
          round(stopCnt.cast("double") / nTok, 4).as("stop_ratio"),
          round((length(regexp_replace(txt, wsRe, "")).cast("double")) / nTok, 4).as("avg_tok_len"))
        .orderBy("doc_id")
    }),

    // Stopword-profile language ID (n-gram-heuristic shape; deterministic).
    "t_lang_id" -> ((s, d) => {
      val txt = lower(col("text"))
      val guess = when(txt.rlike("(^| )(der|die|das|und|nicht)( |$)"), lit("de"))
        .when(txt.rlike("(^| )(le|la|les|est|une)( |$)"), lit("fr"))
        .when(txt.rlike("(^| )(el|los|las|una|es)( |$)"), lit("es"))
        .when(txt.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
        .otherwise(lit("en"))
      t(s, d, "documents")
        .withColumn("lang_guess", guess)
        .groupBy("lang_guess")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang_guess")
    }),

    // Document fingerprint: hash of whitespace-normalized lowercased text.
    "t_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), md5(normText(col("text"))).as("fp"))
        .orderBy("doc_id")),

    // Composite keep/drop training-data filter: length bounds + punctuation
    // ceiling + minimum stopword signal, the standard pre-training corpus
    // gate. Survivor stats per lang.
    "t_quality_filter" -> ((s, d) => {
      val txt = col("text")
      val toks = tokens(lower(txt))
      val nTok = size(toks)
      val punctRatio = (length(txt) - length(regexp_replace(txt, "[.,!?;:]", ""))).cast("double") / nullif(length(txt), lit(0))
      val stopRatio = size(filter(toks, w => w.isInCollection(stopwords))).cast("double") / nTok
      t(s, d, "documents")
        .filter(col("n_chars").between(100, 2000) &&
          nTok >= 20 && punctRatio <= 0.1 && stopRatio >= 0.01)
        .groupBy("lang")
        .agg(count(lit(1)).as("kept"), round(avg("n_chars"), 2).as("avg_chars"))
        .orderBy("lang")
    }),

    // Corpus-wide top-20 bigrams: explode adjacent token pairs → count.
    // Map-side partial aggregation absorbs the explosion; top-k is a
    // TakeOrdered, not a full sort.
    "t_bigram_topk" -> ((s, d) =>
      t(s, d, "documents")
        .select(tokens(col("text")).as("sp"))
        .filter(size(col("sp")) >= 2)
        .select(expr(
          "explode(transform(sequence(0, size(sp) - 2), i -> concat(sp[i], ' ', sp[i + 1])))")
          .as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(20))
        ,

    // TF-IDF: top-3 terms per language by summed tf·idf. Plan shape at
    // scale: ONE explode feeds two partial aggregations — (lang, term)
    // occurrence counts and per-term document frequency; df is vocab-sized,
    // and the join is left UNHINTED so the planner picks: broadcast under
    // the threshold (AQE does so at every test SF — asserted on the
    // executed plan in PlanSpec), shuffle hash join on `term` beyond it
    // (a web-scale vocabulary of billions of terms must not be forced to
    // the driver by an explicit hint). The per-lang top-k is a window over
    // vocab-sized input (never over documents).
    // score = occ · ln(N/df) with the integer sum factored OUT of the log
    // product, so the double arithmetic is a single multiply per term —
    // order-independent, cross-engine safe. Ranking compares 9-dp-rounded
    // scores (ln can differ in the last ulp between libm and Math.log) with
    // a term tiebreak, the same discipline as the kmeans/IVF argmaxes.
    "t_tfidf_top" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("sp"))
        .select(col("doc_id"), col("lang"), explode(col("sp")).as("term"))
      val lt = w.groupBy("lang", "term").agg(count(lit(1)).as("occ"))
      val df = w.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      val n = t(s, d, "documents").agg(count(lit(1)).as("n_total"))
      val scored = lt.join(df, "term").crossJoin(broadcast(n))
        .select(col("lang"), col("term"),
          round(col("occ").cast("double") *
            log(col("n_total").cast("double") / col("df")), 9).as("tfidf9"))
      val byLang = Window.partitionBy("lang").orderBy(col("tfidf9").desc, col("term"))
      scored.withColumn("rk", row_number().over(byLang))
        .filter(col("rk") <= 3)
        .select(col("lang"), col("rk").cast("bigint").as("rk"), col("term"),
          round(col("tfidf9"), 4).as("tfidf"))
        .orderBy("lang", "rk")
    }),

    // URL extraction + per-domain stats. The corpus text carries no URLs,
    // so deterministic URL-shaped suffixes are synthesized from doc_id
    // (the c_unicode_norm discipline: dirty input derived in-query, both
    // engines see identical bytes). regexp_extract_all is a narrow
    // codegen'd map; the only shuffle is the final domain roll-up.
    "t_url_extract" -> ((s, d) => {
      val dirty = concat(col("text"),
        lit(" see http://site"), pmod(col("doc_id"), lit(13)).cast("string"),
        lit(".example.com/p/"), pmod(col("doc_id"), lit(97)).cast("string"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" and https://cdn"), pmod(col("doc_id"), lit(5)).cast("string"),
            lit(".assets.org/x.js"))).otherwise(lit("")))
      t(s, d, "documents")
        .select(col("doc_id"),
          explode(regexp_extract_all(dirty, lit("https?://[^ ]+"), lit(0))).as("url"))
        .select(col("doc_id"), col("url"),
          regexp_extract(col("url"), "^https?://([^/]+)", 1).as("domain"),
          col("url").startsWith("https://").as("is_https"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(when(col("is_https"), 1L).otherwise(0L)).cast("bigint").as("n_https"))
        .orderBy("domain")
    }),

    // Zipf rank-frequency slope over the term distribution: OLS fit of
    // ln(freq) on ln(rank) for the top-100 terms. The top-100 cut is an
    // orderBy+limit — TakeOrderedAndProject, never a full sort — so the
    // only single-partition window ranks an input already bounded to 100
    // rows (a vocab-sized global window would collapse the whole
    // vocabulary onto one task, the exact shape PlanSpec forbids
    // elsewhere). OLS moments are computed from 9-dp-rounded coordinates
    // so the 100-element double sums agree cross-engine at the 6-dp slope
    // rounding. A natural-language corpus fits slope ≈ −1 (Zipf's law);
    // the uniform word-soup here fits a shallower slope — either way the
    // value is deterministic.
    "t_zipf_slope" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val freq = t(s, d, "documents")
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
      val ranked = freq
        .orderBy(col("freq").desc, col("term")).limit(100)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("freq").desc, col("term"))))
        .select(round(log(col("rank").cast("double")), 9).as("x"),
          round(log(col("freq").cast("double")), 9).as("y"))
      ranked.agg(count(lit(1)).as("n_terms"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n_terms"),
          round((col("n_terms") * col("sxy") - col("sx") * col("sy")) /
            (col("n_terms") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"))
    }),

    // Bigram language-model document scoring — the perplexity-shaped
    // quality signal of a pre-training pipeline, from corpus statistics
    // alone: p(w2|w1) = C(w1,w2)/C(w1,·) over the whole corpus, each doc
    // scored by its mean bigram log-probability. ONE bigram explode feeds
    // both count aggregations; the model join is UNHINTED — vocab² is
    // unbounded at corpus scale, so the planner must stay free to pick a
    // shuffle hash join on the bigram key (AQE broadcasts it at test SFs
    // where it is small). ln is taken on identical doubles on both
    // engines; only the per-doc SUM is order-dependent, so the mean is
    // rounded to 6 dp.
    "t_doc_logprob" -> ((s, d) => {
      val bi = t(s, d, "documents")
        .select(col("doc_id"), tokens(col("text")).as("sp"))
        .filter(size(col("sp")) >= 2)
        .select(col("doc_id"), expr(
          "explode(transform(sequence(0, size(sp) - 2), i -> named_struct('w1', sp[i], 'w2', sp[i + 1])))")
          .as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val pair = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val uni = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
      val model = pair.join(uni, "w1")
        .select(col("w1"), col("w2"),
          log(col("c12").cast("double") / col("c1")).as("lp"))
      bi.join(model, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg("lp"), 6).as("avg_logprob"))
        .orderBy("doc_id")
    }),

    // Per-document token entropy — the diversity/repetition quality signal:
    // H = −Σ p·ln p over the doc's token distribution. Two partial-agg
    // shuffles ((doc, token) counts → per-doc entropy); the inner division
    // happens on identical integers on both engines, and the per-doc sum is
    // rounded to 6 dp (summation order).
    "t_token_entropy" -> ((s, d) => {
      val tok = t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val cnt = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val tot = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
      cnt.join(tot, "doc_id")
        .select(col("doc_id"), col("n"),
          (col("c").cast("double") / col("n")).as("p"))
        .groupBy("doc_id")
        .agg(max(col("n")).as("n_tokens"),
          // + 0.0 normalizes IEEE −0.0 (single-distinct-token doc) to 0.0
          // identically on both engines
          round(-sum(col("p") * log(col("p"))) + lit(0.0), 6).as("entropy"))
        .select(col("doc_id"), col("n_tokens"), col("entropy"))
        .orderBy("doc_id")
    }),

    // Vocabulary richness per language: type-token ratio + hapax-legomena
    // fraction (the corpus-health signal that collapses when a crawl is
    // template-dominated). One explode then two partial-agg'd groupBys —
    // the (lang, term) aggregate is the heavy stage at 100 TB and
    // map-side combines; the per-lang rollup is |langs| rows. Ratios are
    // exact bigint/bigint → double divisions, rounded to 6 dp.
    "t_hapax_ratio" -> ((s, d) => {
      val terms = t(s, d, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("term"))
      terms.groupBy("lang", "term").agg(count(lit(1)).as("occ"))
        .groupBy("lang")
        .agg(sum("occ").cast("bigint").as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("occ") === 1, 1L).otherwise(0L)).cast("bigint").as("n_hapax"))
        .select(col("lang"), col("n_tokens"), col("n_types"), col("n_hapax"),
          round(col("n_types") / col("n_tokens"), 6).as("ttr"),
          round(col("n_hapax") / col("n_types"), 6).as("hapax_ratio"))
        .orderBy("lang")
    }),

    // Code-vs-prose detection — the router that splits a crawl into code
    // and natural-language training pools. Signals: symbol density per
    // 100 chars + code-keyword hits (RE2-safe, identical both engines).
    // The corpus is prose-only (vocab verified free of code keywords), so
    // a deterministic code snippet is appended to doc_id % 4 == 0 docs
    // (the t_url_extract synthesis discipline) and the output
    // SELF-GRADES: per lang, detected-code count must equal the planted
    // count. One narrow codegen'd map + a |langs|-row rollup.
    "t_code_detect" -> ((s, d) => {
      val planted = pmod(col("doc_id"), lit(4)) === 0
      val txt = when(planted,
        concat(col("text"),
          lit("\nfor (i = 0; i < n; i++) { x[i] = y[i] + f(z); }")))
        .otherwise(col("text"))
      val sym = regexp_count(txt, lit("[{}()\\[\\];=<>+]")).cast("double")
      val kw = regexp_count(txt,
        lit("(^|[ \\n])(for|while|if|return|def|var|int)[ (]")).cast("double")
      val score = round(sym * 100.0 / length(txt) + kw, 4)
      t(s, d, "documents")
        .select(col("lang"), planted.as("planted"), score.as("code_score"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("code_score") > 1.0, 1L).otherwise(0L)).cast("bigint").as("n_code"),
          sum(when(col("planted"), 1L).otherwise(0L)).cast("bigint").as("n_planted"),
          round(avg("code_score"), 4).as("avg_score"))
        .withColumn("detector_exact", col("n_code") === col("n_planted"))
        .orderBy("lang")
    }),

    // Per-language KL divergence from the corpus-wide unigram
    // distribution — the drift monitor that flags when one slice's
    // vocabulary shifts (new crawl source, template leak, encoding bug).
    // KL(P_lang ‖ P_corpus) = Σ p·ln(p/q) over the lang's terms. The
    // corpus is tokenized ONCE: every other count (per-lang totals,
    // global term counts, the grand total) derives from the (lang, term)
    // aggregate by summing — at 100 TB the explode is the heavy stage and
    // must not run four times. The only non-broadcast join shuffles on
    // term (vocab-sized, the natural key). All ratios are exact integer
    // divisions in doubles; the per-lang sum is rounded to 6 dp
    // (summation order, the t_token_entropy discipline).
    "t_kl_drift" -> ((s, d) => {
      val lc = t(s, d, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("c"))
      val lt = lc.groupBy("lang").agg(sum("c").as("n"))
      val gc = lc.groupBy("term").agg(sum("c").as("gc"))
      val gt = lc.agg(sum("c").as("gn"))
      lc.join(broadcast(lt), "lang").join(gc, "term").crossJoin(broadcast(gt))
        .select(col("lang"),
          ((col("c") / col("n")) *
            log((col("c") / col("n")) / (col("gc") / col("gn")))).as("contrib"))
        .groupBy("lang")
        .agg(round(sum("contrib"), 6).as("kl"),
          count(lit(1)).as("n_terms"))
        .orderBy("lang")
    }),

    // Collocation mining — top-20 adjacent-token pairs by pointwise mutual
    // information, the classic phrase detector (word2vec-style phrase
    // merging, stopword-bigram suppression). PMI = ln(p(xy) / (p(x)p(y)))
    // with p(xy) over the bigram space and p(x) over the unigram space.
    // Plan shape at scale: the corpus tokenizes ONCE into a bigram stream
    // and once into a unigram stream (two explodes — the pair explode
    // cannot derive from the unigram one), each partial-agg'd; the
    // min-support filter (c2 >= 5) prunes the bigram side BEFORE its two
    // joins back to the unigram counts, which stay UNHINTED — vocab is
    // scale-growing, AQE broadcasts at test SFs. Tokens cannot contain
    // whitespace (they are split products), so splitting the bigram on its
    // single space recovers x and y exactly on both engines. The PMI value
    // is pure per-row double arithmetic in one fixed expression order (no
    // double aggregation anywhere), rounded to 9 dp as the ORDER key — the
    // t_tfidf_top discipline.
    "t_pmi_topk" -> ((s, d) => {
      val docs = t(s, d, "documents").select(tokens(col("text")).as("sp"))
      // persist both count tables: the unigram counts feed THREE consumers
      // (the total + both pair-side joins) and the bigram counts two (the
      // total + the support filter) — uncached, each consumer re-runs its
      // explode over the corpus. Cache lifetime: Verify/Bench clearCache()
      // after each query's final consumer, so this never outlives the query.
      val uni = docs.select(explode(col("sp")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c1")).persist()
      val nUni = uni.agg(sum("c1").cast("double").as("n_uni"))
      val bgc = docs.filter(size(col("sp")) >= 2)
        .select(expr(
          "explode(transform(sequence(0, size(sp) - 2), i -> concat(sp[i], ' ', sp[i + 1])))")
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c2")).persist()
      val nBg = bgc.agg(sum("c2").cast("double").as("n_bg"))
      bgc
        .filter(col("c2") >= 5)
        .withColumn("x", split(col("bigram"), " ").getItem(0))
        .withColumn("y", split(col("bigram"), " ").getItem(1))
        .join(uni.withColumnRenamed("tok", "x").withColumnRenamed("c1", "c1x"), "x")
        .join(uni.withColumnRenamed("tok", "y").withColumnRenamed("c1", "c1y"), "y")
        .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBg))
        .select(col("bigram"), col("c2"),
          round(log((col("c2") / col("n_bg")) /
            ((col("c1x") / col("n_uni")) * (col("c1y") / col("n_uni")))), 9).as("pmi9"))
        .orderBy(col("pmi9").desc, col("bigram"))
        .limit(20)
    }),

    // Readability scoring — Flesch-reading-ease with the standard
    // regex-only approximations (sentences = terminal-punctuation runs,
    // syllables = vowel-group runs), the curation filter that separates
    // grade-school prose from legalese before training. Per-doc arithmetic
    // is integer counts in one fixed double expression (deterministic
    // per row, rounded to 4 dp); the per-lang roll-up rounds its double
    // aggregates (summation order — the t_code_detect discipline). Narrow
    // map over the scan + one partial-agg'd groupBy; no joins, no windows.
    "t_readability" -> ((s, d) => {
      val nWords = size(tokens(col("text"))).cast("double")
      val nSent = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).cast("double")
      val nSyll = greatest(regexp_count(lower(col("text")), lit("[aeiouy]+")), lit(1)).cast("double")
      val score = round(lit(206.835) - lit(1.015) * (nWords / nSent) -
        lit(84.6) * (nSyll / nWords), 4)
      t(s, d, "documents")
        .select(col("lang"), score.as("flesch"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("flesch"), 4).as("avg_flesch"),
          min("flesch").as("min_flesch"),
          max("flesch").as("max_flesch"))
        .orderBy("lang")
    }),

    // Boilerplate detection — the C4-style template filter: a 10-token
    // chunk appearing in ≥ 2 DISTINCT documents is boilerplate (headers,
    // footers, navigation, license blocks), and each document is scored by
    // its boilerplate fraction. Chunking reuses the c_line_dedup window
    // (10-token shingle-join chunks); the chunk→doc-frequency aggregate is
    // vocab-sized and joins back UNHINTED (AQE broadcasts at test SFs, the
    // t_tfidf_top discipline — a web-scale chunk vocabulary must be free
    // to shuffle). Per-doc fraction is exact integer division rounded to
    // 6 dp; the per-lang roll-up rounds its avg (summation order).
    "t_boilerplate" -> ((s, d) => {
      val chunks = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("sp"))
        .filter(size(col("sp")) >= 10)
        .select(col("doc_id"), col("lang"),
          explode(expr(
            "transform(sequence(0, cast(size(sp) / 10 as int) - 1), " +
              "i -> array_join(slice(sp, i * 10 + 1, 10), ' '))")).as("chunk"))
      val dfreq = chunks.groupBy("chunk").agg(countDistinct("doc_id").as("df"))
      chunks.join(dfreq, "chunk")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_boiler"))
        .select(col("lang"),
          round(col("n_boiler") / col("n_chunks"), 6).as("frac"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("frac"), 4).as("avg_boiler_frac"),
          sum(when(col("frac") > 0.5, 1L).otherwise(0L)).cast("bigint").as("n_heavy"))
        .orderBy("lang")
    }),

    // Char-trigram language ID (the Cavnar–Trenkle rank-profile method —
    // the true "n-gram heuristic" where t_lang_id is marker-words): train
    // a top-30 trigram profile per language FROM the labeled corpus, then
    // classify every document by which profile its own trigrams hit
    // hardest, and self-grade against the labels. Trigrams come from a
    // 200-char prefix (the standard classification window — bounds the
    // explode at any document length); the per-doc trigram counts
    // aggregate ONCE and are persisted for their two consumers (profile
    // training and classification). Scores are integer sums; prediction
    // ties break on language code — fully deterministic, so the whole
    // train-classify-grade loop is oracle-checkable.
    "t_ngram_lang_id" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val prefix = substring(lower(col("text")), 1, 200)
      // raw trigram OCCURRENCE stream — deliberately never aggregated per
      // doc and never cached: the training pass partial-aggs it straight
      // to (lang, trigram), and the classify pass semi-filters it through
      // the broadcast profile BEFORE any per-doc work, so nothing
      // doc×trigram-sized ever shuffles or sits in memory (an earlier
      // per-doc-count cache held ~8M rows for the rest of the session).
      // Trigrams come from the native char_ngrams expression, not the
      // transform(sequence(...)) HOF — HOF lambdas evaluate interpreted,
      // and this stream is walked twice. Measured at sf0.1: HOF 4.2 s,
      // HOF+persist 3.6 s, native 2.5 s, native+persist 3.1 s (caching
      // 12M short strings costs more than a second codegen'd scan) — so:
      // native, no cache.
      val tgStream = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), prefix.as("p"))
        .filter(length(col("p")) >= 3)
        .select(col("doc_id"), col("lang"),
          explode(graft.functions.GraftFunctions.charNgrams(col("p"), 3)).as("tg"))
      // profile by DISTINCTIVENESS (lift = p(tg|lang)/p(tg), rounded as
      // the rank key), not raw frequency — raw top-30 is dominated by
      // trigrams every language shares ("e ", " th"), which carry no
      // signal; min support 5 keeps noise trigrams out of the profiles
      val langTg = tgStream.groupBy(col("lang").as("plang"), col("tg"))
        .agg(count(lit(1)).as("n")).filter(col("n") >= 5).persist()
      val langTot = langTg.groupBy("plang").agg(sum("n").as("nl"))
      val gTg = langTg.groupBy("tg").agg(sum("n").as("ng"))
      val gTot = langTg.agg(sum("n").cast("double").as("ntot"))
      val wProf = Window.partitionBy("plang").orderBy(col("lift9").desc, col("tg"))
      val profile = langTg
        .join(broadcast(langTot), "plang").join(gTg, "tg")
        .crossJoin(broadcast(gTot))
        .select(col("plang"), col("tg"),
          round(log((col("n") / col("nl")) / (col("ng") / col("ntot"))), 9).as("lift9"))
        .withColumn("rk", row_number().over(wProf))
        .filter(col("rk") <= 30)
        .select("plang", "tg", "lift9")
      val wBest = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("plang"))
      // lift-weighted votes (rounded to 6 dp as the rank key — an
      // order-dependent double sum must not decide ranks raw); the
      // profile is 30×|langs| rows BY CONSTRUCTION, so the hint is safe
      // at any scale
      val best = tgStream.join(broadcast(profile), "tg")
        .groupBy("doc_id", "plang")
        .agg(round(sum(col("lift9")), 6).as("score"))
        .withColumn("rn", row_number().over(wBest))
        .filter(col("rn") === 1)
        .select("doc_id", "plang")
      // grade EVERY document: a doc whose trigrams hit no profile entry
      // (or whose prefix is under 3 chars) gets plang NULL and counts as
      // incorrect — the accuracy denominator is the corpus, not the
      // covered subset, so coverage shrinkage can't silently flatter it
      t(s, d, "documents").select(col("doc_id"), col("lang"))
        .join(best, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("plang").isNotNull, 1L).otherwise(0L))
            .cast("bigint").as("n_classified"),
          sum(when(col("plang") === col("lang"), 1L).otherwise(0L))
            .cast("bigint").as("n_correct"))
        .select(col("lang"), col("n_docs"), col("n_classified"),
          col("n_correct"),
          round(col("n_correct") / col("n_docs"), 4).as("accuracy"))
        .orderBy("lang")
    }),

    // TextRank keyword extraction — the graph-centrality complement of
    // t_tfidf_top's frequency ranking: adjacent content-word pairs (both
    // ≥ 4 chars, no self-loops) build an undirected co-occurrence graph,
    // and three unrolled damped power-iteration rounds (d=0.85, the
    // e_pagerank family) score each word by random-walk visit rate. The
    // graph is VOCABULARY-sized (edges bounded by observed adjacencies),
    // so the iteration joins shuffle vocab keys, never corpus rows; every
    // node has inflow by construction (undirected ⇒ in-degree = out-
    // degree ≥ 1), so no left-join resurrection is needed. Per-iteration
    // inflow sums round to 9 dp — the shared iterative discipline that
    // keeps both engines on the same trajectory.
    "t_textrank" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(tokens(lower(col("text"))).as("sp"))
        .filter(size(col("sp")) >= 2)
      val pairs = docs.select(explode(expr(
        """filter(transform(sequence(0, size(sp) - 2),
          |  i -> struct(sp[i] AS u, sp[i + 1] AS v)),
          |  p -> length(p.u) >= 4 AND length(p.v) >= 4 AND p.u != p.v)"""
          .stripMargin)).as("pr"))
        .select(col("pr.u").as("u"), col("pr.v").as("v"))
      val und = pairs.union(pairs.select(col("v").as("u"), col("u").as("v")))
      val edges = und.groupBy("u", "v").agg(count(lit(1)).as("wt"))
      val wdeg = edges.groupBy("u").agg(sum("wt").as("deg"))
      // persist the transition graph: all three iterations reference it
      // (the e_pagerank iterative-cache pattern). Cache lifetime:
      // Verify/Bench clearCache() after each query's final consumer.
      val trans = edges.join(wdeg, "u")
        .select(col("u"), col("v"), (col("wt") / col("deg")).as("p"))
        .persist()
      var r = edges.select(col("u").as("w")).distinct()
        .select(col("w"), lit(1.0).as("r"))
      for (_ <- 1 to 3) {
        r = trans.join(r, trans("u") === r("w"))
          .groupBy(trans("v"))
          .agg(round(sum(col("p") * col("r")), 9).as("inflow"))
          .select(col("v").as("w"),
            (lit(0.15) + lit(0.85) * col("inflow")).as("r"))
      }
      r.orderBy(round(col("r"), 9).desc, col("w"))
        .limit(20)
        .select(col("w").as("word"), round(col("r"), 6).as("score"))
    }),

    // BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed 3-term query —
    // the IR ranking function TF-IDF graduates into (see [[bm25]]).
    "t_bm25_topk" -> ((s, d) =>
      bm25(t(s, d, "documents"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(15)),

    // RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    // maximal stopword-free token runs (gaps-and-islands: pos −
    // row_number over surviving tokens, windowed PER DOCUMENT — bounded
    // partitions, never a global sort); a word scores deg/freq where deg
    // sums the lengths of every phrase it appears in, and a phrase scores
    // the sum of its member word scores — so multiword technical phrases
    // outrank frequent singletons. Scoring happens on phrase TYPES (same
    // words ⇒ same score), so the member re-explode is distinct-phrase
    // sized, and deg/freq stay exact integers until the one per-word
    // division. 1-based vs 0-based positions differ across engines but
    // grp is shift-invariant, so islands agree.
    "t_rake_topk" -> ((s, d) => {
      val toksP = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(Text.tokens(lower(col("text")))).as(Seq("pos", "tok")))
      val ns = toksP.filter(
        !col("tok").isInCollection(Text.stopwords) && col("tok") =!= "")
      val grouped = ns.withColumn("grp", col("pos") -
        row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      val members = grouped.withColumn("plen",
        count(lit(1)).over(Window.partitionBy("doc_id", "grp")))
      val wordScore = members.groupBy("tok")
        .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
        .select(col("tok"), (col("deg").cast("double") / col("freq")).as("ws"))
      val inst = grouped.groupBy("doc_id", "grp")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("phrase"))
      inst.groupBy("phrase").agg(count(lit(1)).as("n_occur"))
        .select(col("phrase"), col("n_occur"),
          explode(split(col("phrase"), " ")).as("tok"))
        .join(wordScore, "tok")
        .groupBy("phrase", "n_occur")
        .agg(round(sum("ws"), 6).as("score"))
        .orderBy(col("score").desc, col("phrase"))
        .limit(15)
    })
  )

  /** t_bpe_merges replay: the identical vocab-weighted Sennrich chain —
    * word counts → shared-separator symbol strings → K unrolled
    * (pair-count, argmax, replace-twice) rounds. Both engines' replace()
    * is literal, non-overlapping, left-to-right, so both compute the
    * same merge rule: classic greedy for every a ≠ b pair, the pinned
    * deterministic variant on same-symbol runs ≥ 5 (see the query
    * comment — BpeSpec holds the byte-exact referee).
    */
  private def bpeCtesSql(k: Int, pred: String = "TRUE"): String =
    bpeCtesSqlFrom(k,
      """words AS MATERIALIZED (
        |  SELECT w, count(*) AS n FROM
        |    (SELECT unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS w
        |     FROM documents WHERE __PRED__)
        |  WHERE w <> '' GROUP BY w)""".stripMargin
        .replace("__PRED__", pred))

  /** The k unrolled merge-round CTEs over an arbitrary `words` unit CTE
    * (word units for t_bpe_merges/t_bpe_encode, bigram units for
    * t_bpe_merges_deep).
    */
  private def bpeCtesSqlFrom(k: Int, wordsCte: String): String = {
    def pairsOf(vtab: String): String =
      s"""(SELECT n, unnest(list_transform(range(1, len(string_split(trim(sym), ' '))),
         |    i -> string_split(trim(sym), ' ')[CAST(i AS INT)] || ' ' ||
         |         string_split(trim(sym), ' ')[CAST(i AS INT) + 1])) AS pr
         |  FROM $vtab)""".stripMargin
    // mN/vN are each referenced more than once (the next round's pair
    // count, the vocab update's scalar subqueries, the final union) —
    // MATERIALIZED pins one evaluation per round; without it the replay
    // re-derives subplan copies per reference, which is harmless at
    // k = 5 but exponential at the k = 120 deep schedule (measured: the
    // un-hinted 120-round chain never finished)
    val iters = (1 to k).map { i =>
      s"""p$i AS (SELECT pr, sum(n) AS cnt FROM ${pairsOf(s"v${i - 1}")} GROUP BY pr),
         |m$i AS MATERIALIZED (SELECT pr, cnt FROM p$i ORDER BY cnt DESC, pr LIMIT 1),
         |v$i AS MATERIALIZED (SELECT w, replace(replace(sym, ' ' || (SELECT pr FROM m$i) || ' ',
         |    ' ' || replace((SELECT pr FROM m$i), ' ', '') || ' '),
         |    ' ' || (SELECT pr FROM m$i) || ' ',
         |    ' ' || replace((SELECT pr FROM m$i), ' ', '') || ' ') AS sym, n
         |  FROM v${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""$wordsCte,
       |v0 AS (
       |  SELECT w, ' ' || array_to_string(
       |      list_transform(range(1, length(w) + 1),
       |        i -> substr(w, CAST(i AS INT), 1)), ' ') || ' ' AS sym, n
       |  FROM words),
       |$iters""".stripMargin
  }

  private def bpeMergesSql(k: Int): String =
    bpeMergesSqlFrom(k, bpeCtesSql(k))

  /** The adjacent-word bigram unit CTE (see bigramUnits). */
  private def bigramWordsCte: String =
    """words AS MATERIALIZED (
       |  SELECT w, count(*) AS n FROM (
       |    SELECT unnest(list_transform(range(1, len(sp)),
       |      i -> sp[CAST(i AS INT)] || '_' || sp[CAST(i AS INT) + 1])) AS w
       |    FROM (SELECT string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS sp
       |          FROM documents))
       |  WHERE w <> '_' GROUP BY w)""".stripMargin

  /** The deep schedule's replay as ONE RECURSIVE CTE over an arbitrary
    * `words` unit CTE: the working table carries the current round's
    * vocabulary rows (kind = 'v') plus that round's merge row
    * (kind = 'm'); each iteration aggregates the previous vocabulary's
    * pair counts, picks the (cnt DESC, pair ASC — UTF-8 byte order, the
    * trainLocal tie-break) argmax, and applies the replace-twice merge.
    * Linear in K where the unrolled mN/vN chain's bind cost grows
    * ~K²·³ (measured: K = 1000 recursive 5 s vs 79 s for the UNROLLED
    * K = 250; the row-for-row equivalence of the two forms at K = 120
    * was asserted before switching). The accumulated result holds every
    * round's rows; consumers filter kind = 'm' (the merge table) or
    * kind = 'v' AND it = K (the final vocabulary).
    */
  private def bpeDeepRecursiveCtes(k: Int, wordsCte: String): String =
    s"""RECURSIVE $wordsCte,
       |t(it, kind, w, sym, n, pair, cnt) AS (
       |  SELECT 0, 'v', w,
       |    ' ' || array_to_string(list_transform(range(1, length(w) + 1),
       |      i -> substr(w, CAST(i AS INT), 1)), ' ') || ' ', n,
       |    CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
       |  FROM words
       |  UNION ALL
       |  (WITH prev AS (SELECT * FROM t WHERE kind = 'v'),
       |   best AS (
       |     SELECT pr, CAST(cnt AS BIGINT) AS cnt FROM (
       |       SELECT pr, sum(n) AS cnt FROM (
       |         SELECT n, unnest(list_transform(range(1, len(string_split(trim(sym), ' '))),
       |           i -> string_split(trim(sym), ' ')[CAST(i AS INT)] || ' ' ||
       |                string_split(trim(sym), ' ')[CAST(i AS INT) + 1])) AS pr
       |         FROM prev) GROUP BY pr)
       |     ORDER BY cnt DESC, pr LIMIT 1)
       |   SELECT it + 1, u.kind, u.w, u.sym, u.n, u.pair, u.cnt FROM (
       |     SELECT prev.w AS w,
       |       replace(replace(sym, ' ' || best.pr || ' ', ' ' || replace(best.pr, ' ', '') || ' '),
       |         ' ' || best.pr || ' ', ' ' || replace(best.pr, ' ', '') || ' ') AS sym,
       |       n, 'v' AS kind, CAST(NULL AS VARCHAR) AS pair, CAST(NULL AS BIGINT) AS cnt
       |     FROM prev, best
       |     UNION ALL
       |     SELECT NULL, NULL, NULL, 'm', best.pr, best.cnt FROM best
       |   ) u, (SELECT max(it) AS it FROM t) mx
       |   WHERE mx.it < $k)
       |)""".stripMargin

  private def bpeMergesSqlFrom(k: Int, ctes: String): String = {
    val union = (1 to k)
      .map(i => s"SELECT $i AS it, pr AS pair, cnt FROM m$i")
      .mkString("\n  UNION ALL ")
    s"""WITH $ctes
       |SELECT it, pair, replace(pair, ' ', '') AS new_symbol,
       |  CAST(cnt AS BIGINT) AS cnt
       |FROM ($union)
       |ORDER BY it""".stripMargin
  }

  private def bpeEncodeSql(k: Int): String =
    s"""WITH ${bpeCtesSql(k)},
       |sized AS (SELECT w, CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n_sym
       |          FROM v$k),
       |toks AS (
       |  SELECT lang, unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS w
       |  FROM documents)
       |SELECT lang, count(*) AS n_words,
       |  CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
       |  round(CAST(sum(n_sym) AS DOUBLE) / count(*), 4) AS fertility
       |FROM toks JOIN sized USING (w)
       |WHERE w <> ''
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** t_bpe_encode_bytes replay: the bpeCtesSql train chain, the token
    * vocabulary (training alphabet ∪ merge outputs), the é-variant
    * stream segmented by the k merges in rank order (replace-twice,
    * byte-identical to the trainer), and the byte-fallback cost — 1
    * token for in-vocabulary symbols, strlen (UTF-8 octets) for OOV.
    */
  private def bpeEncodeBytesSql(k: Int, stratum: Option[Int]): String = {
    val applySeg = (1 to k).map { i =>
      s"""seg$i AS (SELECT w, replace(replace(sym, ' ' || (SELECT pr FROM m$i) || ' ',
         |    ' ' || replace((SELECT pr FROM m$i), ' ', '') || ' '),
         |    ' ' || (SELECT pr FROM m$i) || ' ',
         |    ' ' || replace((SELECT pr FROM m$i), ' ', '') || ' ') AS sym
         |  FROM seg${i - 1})""".stripMargin
    }.mkString(",\n")
    val learned = (1 to k)
      .map(i => s"SELECT replace(pr, ' ', '') AS sym FROM m$i")
      .mkString("\n  UNION ALL ")
    val pred = stratum.fold("TRUE")(stratumSql("doc_id", _))
    s"""WITH ${bpeCtesSql(k, pred)},
       |alpha AS (SELECT DISTINCT sym FROM (
       |  SELECT unnest(list_transform(range(1, length(w) + 1),
       |    i -> substr(w, CAST(i AS INT), 1))) AS sym FROM words)),
       |known AS (SELECT DISTINCT sym FROM (SELECT sym FROM alpha
       |  UNION ALL $learned)),
       |vw AS (SELECT DISTINCT CASE WHEN length(w) % 3 = 0
       |         THEN w || chr(233) ELSE w END AS w FROM words),
       |seg0 AS (SELECT w, ' ' || array_to_string(list_transform(range(1, length(w) + 1),
       |    i -> substr(w, CAST(i AS INT), 1)), ' ') || ' ' AS sym FROM vw),
       |$applySeg,
       |costed AS (
       |  SELECT w,
       |    sum(CASE WHEN kn.sym IS NOT NULL THEN 1 ELSE strlen(u.sym) END) AS n_tok,
       |    sum(CASE WHEN kn.sym IS NULL THEN strlen(u.sym) ELSE 0 END) AS n_fb
       |  FROM (SELECT w, unnest(string_split(trim(sym), ' ')) AS sym FROM seg$k) u
       |  LEFT JOIN known kn ON kn.sym = u.sym
       |  GROUP BY w),
       |toks AS (
       |  SELECT lang, unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS w0
       |  FROM documents WHERE $pred)
       |SELECT lang, count(*) AS n_words,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_fb) AS BIGINT) AS n_fallback_bytes,
       |  round(CAST(sum(n_tok) AS DOUBLE) / count(*), 4) AS fertility
       |FROM (SELECT lang, CASE WHEN length(w0) % 3 = 0
       |        THEN w0 || chr(233) ELSE w0 END AS w
       |      FROM toks WHERE w0 <> '') strm
       |JOIN costed USING (w)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "t_bpe_merges" -> bpeMergesSql(5),
    "t_bpe_encode_bytes" -> bpeEncodeBytesSql(5, None),
    // the stratum twin: identical replay over the 1-in-41 md5 doc_id draw
    "t_bpe_encode_bytes_s41" -> bpeEncodeBytesSql(5, Some(41)),
    // all deepK rounds replayed as ONE recursive CTE over the bigram
    // unit vocabulary — same rule, argmax and tie-break as the word form
    "t_bpe_merges_deep" -> (s"WITH ${bpeDeepRecursiveCtes(deepK, bigramWordsCte)}\n" +
      """SELECT it, pair, replace(pair, ' ', '') AS new_symbol, cnt
        |FROM t WHERE kind = 'm' ORDER BY it""".stripMargin),
    // the deep vocabulary applied: round-deepK symbol counts joined back
    // onto the per-language bigram stream
    "t_bpe_encode_deep" -> (s"WITH ${bpeDeepRecursiveCtes(deepK, bigramWordsCte)},\n" +
      "sized AS (SELECT w, CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n_sym\n" +
      s"          FROM t WHERE kind = 'v' AND it = $deepK),\n" +
      """bi AS (
        |  SELECT lang, unnest(list_transform(range(1, len(sp)),
        |    i -> sp[CAST(i AS INT)] || '_' || sp[CAST(i AS INT) + 1])) AS w
        |  FROM (SELECT lang, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS sp
        |        FROM documents))
        |SELECT lang, count(*) AS n_units,
        |  CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
        |  round(CAST(sum(n_sym) AS DOUBLE) / count(*), 4) AS fertility
        |FROM bi JOIN sized USING (w)
        |WHERE w <> '_'
        |GROUP BY lang ORDER BY lang""".stripMargin),
    "t_bpe_encode" -> bpeEncodeSql(5),
    "t_token_count" ->
      """SELECT doc_id,
        |CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens,
        |CAST(len(regexp_extract_all(text, '\w+|[^\w \t\n\x0B\f\r]')) AS BIGINT) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_lang_stats" ->
      """SELECT lang, count(*) AS cnt, round(avg(n_chars),2) AS avg_chars,
        |CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "t_quality_score" ->
      """SELECT doc_id,
        |round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / NULLIF(length(text), 0), 4) AS punct_ratio,
        |round(CAST(len(list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'),
        |      w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
        |      / len(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+')), 4) AS stop_ratio,
        |round(CAST(length(regexp_replace(text, '[ \t\n\x0B\f\r]+', '', 'g')) AS DOUBLE)
        |      / len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')), 4) AS avg_tok_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_lang_id" ->
      """WITH g AS (SELECT CASE
        |  WHEN regexp_matches(lower(text), '(^| )(der|die|das|und|nicht)( |$)') THEN 'de'
        |  WHEN regexp_matches(lower(text), '(^| )(le|la|les|est|une)( |$)') THEN 'fr'
        |  WHEN regexp_matches(lower(text), '(^| )(el|los|las|una|es)( |$)') THEN 'es'
        |  WHEN regexp_matches(lower(text), '[一-鿿]') THEN 'zh'
        |  ELSE 'en' END AS lang_guess FROM documents)
        |SELECT lang_guess, count(*) AS cnt FROM g GROUP BY 1 ORDER BY lang_guess""".stripMargin,
    "t_fingerprint" ->
      s"""SELECT doc_id, md5(${normTextSql("text")}) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_quality_filter" ->
      """WITH q AS (
        |  SELECT lang, n_chars,
        |    len(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+')) AS n_tok,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |      / NULLIF(length(text), 0) AS punct_ratio,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'),
        |         w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
        |      / len(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+')) AS stop_ratio
        |  FROM documents)
        |SELECT lang, count(*) AS kept, round(avg(n_chars),2) AS avg_chars
        |FROM q
        |WHERE n_chars BETWEEN 100 AND 2000 AND n_tok >= 20
        |  AND punct_ratio <= 0.1 AND stop_ratio >= 0.01
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "t_bigram_topk" ->
      """WITH toks AS (SELECT string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS sp FROM documents),
        |bg AS (SELECT unnest(list_transform(range(1, greatest(len(sp), 1)),
        |                     i -> sp[CAST(i AS INT)] || ' ' || sp[CAST(i AS INT) + 1])) AS bigram
        |       FROM toks WHERE len(sp) >= 2)
        |SELECT bigram, count(*) AS cnt FROM bg
        |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin,
    "t_tfidf_top" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS sp
        |  FROM documents),
        |w AS (SELECT doc_id, lang, unnest(sp) AS term FROM d),
        |lt AS (SELECT lang, term, count(*) AS occ FROM w GROUP BY lang, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM w GROUP BY term),
        |n AS (SELECT count(*) AS n_total FROM documents),
        |sc AS (
        |  SELECT lang, lt.term,
        |    round(CAST(occ AS DOUBLE) * ln(CAST(n_total AS DOUBLE) / df), 9) AS tfidf9
        |  FROM lt JOIN df ON lt.term = df.term CROSS JOIN n),
        |rk AS (
        |  SELECT lang, term, tfidf9,
        |    row_number() OVER (PARTITION BY lang ORDER BY tfidf9 DESC, term) AS rk
        |  FROM sc)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, term, round(tfidf9, 4) AS tfidf
        |FROM rk WHERE rk <= 3 ORDER BY lang, rk""".stripMargin,
    "t_url_extract" ->
      """WITH dirty AS (
        |  SELECT doc_id, text || ' see http://site' || CAST(doc_id % 13 AS VARCHAR)
        |    || '.example.com/p/' || CAST(doc_id % 97 AS VARCHAR)
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' and https://cdn' || CAST(doc_id % 5 AS VARCHAR) || '.assets.org/x.js'
        |         ELSE '' END AS d
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(regexp_extract_all(d, 'https?://[^ ]+')) AS url FROM dirty),
        |t AS (SELECT doc_id, url, regexp_extract(url, '^https?://([^/]+)', 1) AS domain,
        |      starts_with(url, 'https://') AS is_https FROM u)
        |SELECT domain, count(*) AS n_urls,
        |  count(DISTINCT doc_id) AS n_docs,
        |  CAST(sum(CASE WHEN is_https THEN 1 ELSE 0 END) AS BIGINT) AS n_https
        |FROM t GROUP BY domain ORDER BY domain""".stripMargin,
    "t_zipf_slope" ->
      """WITH f AS (
        |  SELECT term, count(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS term
        |    FROM documents) GROUP BY term),
        |r AS (SELECT term, freq, row_number() OVER (ORDER BY freq DESC, term) AS rank FROM f),
        |xy AS (SELECT round(ln(CAST(rank AS DOUBLE)), 9) AS x,
        |              round(ln(CAST(freq AS DOUBLE)), 9) AS y
        |       FROM r WHERE rank <= 100),
        |m AS (SELECT count(*) AS n_terms, sum(x) AS sx, sum(y) AS sy,
        |             sum(x*y) AS sxy, sum(x*x) AS sxx FROM xy)
        |SELECT CAST(n_terms AS BIGINT) AS n_terms,
        |  round((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 6) AS zipf_slope
        |FROM m""".stripMargin,
    "t_doc_logprob" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS sp
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(sp)), i -> sp[CAST(i AS INT)])) AS w1,
        |    unnest(list_transform(range(1, len(sp)), i -> sp[CAST(i AS INT) + 1])) AS w2
        |  FROM d WHERE len(sp) >= 2),
        |pair AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        |uni AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
        |model AS (SELECT w1, w2, ln(CAST(c12 AS DOUBLE) / c1) AS lp
        |          FROM pair JOIN uni USING (w1))
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logprob
        |FROM bi JOIN model USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t_token_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
        |  FROM documents),
        |cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |tot AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
        |p AS (SELECT cnt.doc_id, n, CAST(c AS DOUBLE) / n AS p FROM cnt JOIN tot USING (doc_id))
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
        |  round(-sum(p * ln(p)) + 0.0, 6) AS entropy
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t_hapax_ratio" ->
      """WITH w AS (
        |  SELECT lang, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS term
        |  FROM documents),
        |c AS (SELECT lang, term, count(*) AS occ FROM w GROUP BY 1, 2)
        |SELECT lang, CAST(sum(occ) AS BIGINT) AS n_tokens, count(*) AS n_types,
        |  CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  round(count(*) / CAST(sum(occ) AS BIGINT), 6) AS ttr,
        |  round(CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) / count(*), 6) AS hapax_ratio
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    "t_code_detect" ->
      """WITH x AS (
        |  SELECT lang, doc_id % 4 = 0 AS planted,
        |    CASE WHEN doc_id % 4 = 0
        |         THEN text || chr(10) || 'for (i = 0; i < n; i++) { x[i] = y[i] + f(z); }'
        |         ELSE text END AS txt
        |  FROM documents),
        |sc AS (
        |  SELECT lang, planted,
        |    round(CAST(len(regexp_extract_all(txt, '[{}()\[\];=<>+]')) AS DOUBLE)
        |            * 100.0 / length(txt)
        |          + CAST(len(regexp_extract_all(txt,
        |              '(^|[ \n])(for|while|if|return|def|var|int)[ (]')) AS DOUBLE),
        |      4) AS code_score
        |  FROM x)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN code_score > 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
        |  CAST(sum(CASE WHEN planted THEN 1 ELSE 0 END) AS BIGINT) AS n_planted,
        |  round(avg(code_score), 4) AS avg_score,
        |  CAST(sum(CASE WHEN code_score > 1.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    = CAST(sum(CASE WHEN planted THEN 1 ELSE 0 END) AS BIGINT) AS detector_exact
        |FROM sc GROUP BY lang ORDER BY lang""".stripMargin,
    "t_kl_drift" ->
      """WITH w AS (
        |  SELECT lang, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS term
        |  FROM documents),
        |lc AS (SELECT lang, term, count(*) AS c FROM w GROUP BY 1, 2),
        |lt AS (SELECT lang, count(*) AS n FROM w GROUP BY 1),
        |gc AS (SELECT term, count(*) AS gc FROM w GROUP BY 1),
        |gt AS (SELECT count(*) AS gn FROM w)
        |SELECT lang,
        |  round(sum((c / CAST(n AS DOUBLE))
        |            * ln((c / CAST(n AS DOUBLE)) / (gc / CAST(gn AS DOUBLE)))), 6) AS kl,
        |  count(*) AS n_terms
        |FROM lc JOIN lt USING (lang) JOIN gc USING (term) CROSS JOIN gt
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // same fixed expression order for the PMI value; pmi9 is the sort key
    "t_pmi_topk" ->
      """WITH toks AS (
        |  SELECT string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS sp FROM documents),
        |uw AS (SELECT unnest(sp) AS tok FROM toks),
        |u AS (SELECT tok, count(*) AS c1 FROM uw GROUP BY tok),
        |nu AS (SELECT CAST(count(*) AS DOUBLE) AS n_uni FROM uw),
        |bw AS (SELECT unnest(list_transform(range(1, greatest(len(sp), 1)),
        |                     i -> sp[CAST(i AS INT)] || ' ' || sp[CAST(i AS INT) + 1])) AS bigram
        |       FROM toks WHERE len(sp) >= 2),
        |nb AS (SELECT CAST(count(*) AS DOUBLE) AS n_bg FROM bw),
        |b AS (SELECT bigram, count(*) AS c2 FROM bw GROUP BY bigram HAVING count(*) >= 5)
        |SELECT bigram, c2,
        |  round(ln((c2 / n_bg) /
        |           ((ux.c1 / n_uni) * (uy.c1 / n_uni))), 9) AS pmi9
        |FROM b
        |JOIN u ux ON split_part(bigram, ' ', 1) = ux.tok
        |JOIN u uy ON split_part(bigram, ' ', 2) = uy.tok
        |CROSS JOIN nu CROSS JOIN nb
        |ORDER BY pmi9 DESC, bigram LIMIT 20""".stripMargin,
    // same count regexes, same fixed expression order for the score
    "t_readability" ->
      """WITH s AS (
        |  SELECT lang,
        |    round(206.835
        |      - 1.015 * (CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS DOUBLE)
        |                 / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE))
        |      - 84.6 * (CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS DOUBLE)
        |                / CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS DOUBLE)),
        |      4) AS flesch
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(flesch), 4) AS avg_flesch,
        |  min(flesch) AS min_flesch,
        |  max(flesch) AS max_flesch
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin,
    // same 10-token chunking as c_line_dedup's oracle
    "t_boilerplate" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS sp
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(0, len(sp) // 10),
        |      i -> array_to_string(sp[(CAST(i AS INT) * 10 + 1):(CAST(i AS INT) * 10 + 10)], ' '))) AS chunk
        |  FROM d WHERE len(sp) >= 10),
        |dfreq AS (SELECT chunk, count(DISTINCT doc_id) AS df FROM c GROUP BY chunk),
        |per AS (
        |  SELECT doc_id, lang,
        |    round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS frac
        |  FROM c JOIN dfreq USING (chunk)
        |  GROUP BY doc_id, lang)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(frac), 4) AS avg_boiler_frac,
        |  CAST(sum(CASE WHEN frac > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy
        |FROM per GROUP BY lang ORDER BY lang""".stripMargin,
    // identical train→classify→grade chain; integer scores, lang tie-break
    "t_ngram_lang_id" ->
      """WITH p AS (
        |  SELECT doc_id, lang, substr(lower(text), 1, 200) AS p
        |  FROM documents),
        |tg AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, length(p) - 1), i -> substr(p, CAST(i AS INT), 3))) AS tg
        |  FROM p WHERE length(p) >= 3),
        |lt AS (SELECT lang AS plang, tg, count(*) AS n
        |       FROM tg GROUP BY 1, 2 HAVING count(*) >= 5),
        |ltot AS (SELECT plang, CAST(sum(n) AS BIGINT) AS nl FROM lt GROUP BY 1),
        |gt AS (SELECT tg, CAST(sum(n) AS BIGINT) AS ng FROM lt GROUP BY 1),
        |gtot AS (SELECT CAST(sum(n) AS DOUBLE) AS ntot FROM lt),
        |prof AS (
        |  SELECT plang, tg, lift9 FROM (
        |    SELECT lt.plang, lt.tg,
        |      round(ln((lt.n / CAST(nl AS DOUBLE)) / (ng / ntot)), 9) AS lift9,
        |      row_number() OVER (PARTITION BY lt.plang ORDER BY
        |        round(ln((lt.n / CAST(nl AS DOUBLE)) / (ng / ntot)), 9) DESC, lt.tg) AS rk
        |    FROM lt JOIN ltot USING (plang) JOIN gt USING (tg) CROSS JOIN gtot)
        |  WHERE rk <= 30),
        |sc AS (
        |  SELECT doc_id, plang, round(sum(lift9), 6) AS score
        |  FROM tg JOIN prof USING (tg) GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, plang FROM (
        |    SELECT doc_id, plang,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
        |    FROM sc)
        |  WHERE rn = 1)
        |SELECT d.lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN b.plang IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_classified,
        |  CAST(sum(CASE WHEN b.plang = d.lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  round(sum(CASE WHEN b.plang = d.lang THEN 1 ELSE 0 END)
        |        / CAST(count(*) AS DOUBLE), 4) AS accuracy
        |FROM documents d LEFT JOIN best b USING (doc_id)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    // same graph, same three damped iterations; per-iteration inflow
    // sums rounded to 9 dp keep both engines on one trajectory
    "t_textrank" ->
      """WITH docs AS (
        |  SELECT string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS sp
        |  FROM documents),
        |pw AS (
        |  SELECT unnest(list_filter(list_transform(range(1, greatest(len(sp), 1)),
        |    i -> [sp[CAST(i AS INT)], sp[CAST(i AS INT) + 1]]),
        |    p -> length(p[1]) >= 4 AND length(p[2]) >= 4 AND p[1] <> p[2])) AS pr
        |  FROM docs WHERE len(sp) >= 2),
        |und AS (SELECT pr[1] AS u, pr[2] AS v FROM pw
        |        UNION ALL SELECT pr[2] AS u, pr[1] AS v FROM pw),
        |edges AS (SELECT u, v, count(*) AS wt FROM und GROUP BY 1, 2),
        |wdeg AS (SELECT u, CAST(sum(wt) AS BIGINT) AS deg FROM edges GROUP BY 1),
        |trans AS (SELECT e.u, e.v, CAST(wt AS DOUBLE) / deg AS p
        |          FROM edges e JOIN wdeg USING (u)),
        |r0 AS (SELECT DISTINCT u AS w, 1.0 AS r FROM edges),
        |i1 AS (SELECT v AS w, 0.15 + 0.85 * round(sum(p * r), 9) AS r
        |       FROM trans JOIN r0 ON trans.u = r0.w GROUP BY v),
        |i2 AS (SELECT v AS w, 0.15 + 0.85 * round(sum(p * r), 9) AS r
        |       FROM trans JOIN i1 ON trans.u = i1.w GROUP BY v),
        |i3 AS (SELECT v AS w, 0.15 + 0.85 * round(sum(p * r), 9) AS r
        |       FROM trans JOIN i2 ON trans.u = i2.w GROUP BY v)
        |SELECT w AS word, round(r, 6) AS score FROM i3
        |ORDER BY round(r, 9) DESC, w LIMIT 20""".stripMargin,
    // identical literal spelling both engines; only the per-doc sum of
    // <=3 contributions is order-dependent -> rounded to 6 dp
    "t_bm25_topk" ->
      s"""WITH ${bm25CtesSql("")}
        |SELECT doc_id, round(sum(contrib), 6) AS bm25 FROM sc GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin,
    // 1-based positions shift-invariantly form the same islands; integer
    // deg/freq, one division per word, 6-dp phrase sums
    "t_rake_topk" ->
      """WITH docs AS MATERIALIZED (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS sp
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(sp) + 1),
        |    i -> {'pos': CAST(i AS INT), 'tok': sp[CAST(i AS INT)]})) AS pt
        |  FROM docs),
        |ns AS (
        |  SELECT doc_id, pt.pos AS pos, pt.tok AS tok FROM tk
        |  WHERE pt.tok NOT IN ('the', 'a', 'of', 'and', 'to', 'in')
        |    AND pt.tok <> ''),
        |g AS MATERIALIZED (
        |  SELECT doc_id, pos, tok,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM ns),
        |mem AS MATERIALIZED (
        |  SELECT doc_id, grp, tok,
        |    count(*) OVER (PARTITION BY doc_id, grp) AS plen
        |  FROM g),
        |wsc AS MATERIALIZED (
        |  SELECT tok,
        |    CAST(CAST(sum(plen) AS BIGINT) AS DOUBLE) / count(*) AS ws
        |  FROM mem GROUP BY tok),
        |inst AS MATERIALIZED (
        |  SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY pos) AS phrase
        |  FROM g GROUP BY doc_id, grp),
        |occ AS MATERIALIZED (SELECT phrase, count(*) AS n_occur FROM inst GROUP BY phrase),
        |px AS (
        |  SELECT phrase, n_occur, unnest(string_split(phrase, ' ')) AS tok
        |  FROM occ)
        |SELECT phrase, n_occur, round(sum(ws), 6) AS score
        |FROM px JOIN wsc USING (tok)
        |GROUP BY phrase, n_occur
        |ORDER BY score DESC, phrase LIMIT 15""".stripMargin
  )
}
