package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/** Training-data curation operators over `documents` — the preprocessing a
  * large-scale LLM pipeline runs between raw crawl and tokenizer:
  *
  *  - PII redaction (email / phone / IPv4 → placeholder tokens)
  *  - HTML/boilerplate stripping
  *  - Gopher-style quality signals (word stats, top-word fraction,
  *    distinct-word fraction) with keep/drop gates
  *  - repetition metrics (duplicate word / bigram fractions)
  *  - benchmark-contamination detection (shared word n-grams against a
  *    held-out benchmark set, broadcast semi-join — the scalable shape)
  *  - deterministic hash sampling (uniform + per-language stratified):
  *    reproducible across runs/engines because the "random" draw is
  *    md5(text), not an RNG
  *  - sequence packing: greedy fixed-order chunking of documents into
  *    context-window bins via a per-shard running token sum
  *  - shard assignment: the deterministic global-shuffle primitive for
  *    writing training shards
  *
  * Everything is pure codegen'd expressions (no UDFs), narrow maps plus one
  * partial-aggregating shuffle each; the contamination semi-join broadcasts
  * the (small, distinct) benchmark n-gram set. At 100 TB each operator
  * scales linearly with executors; the only windows are partitioned by a
  * shard key whose cardinality the caller controls.
  *
  * No analogue in the reference (its scope stops at ad-report ETL —
  * `/root/reference/README.md:3`); these extend the engine the way
  * SURVEY.md §2-ext describes.
  */
object Curation {

  // ------------------------------------------------------------ primitives

  /** RE2-safe patterns (java.util.regex ∩ DuckDB RE2 — no lookaround). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"

  /** Crawl-frontier URL canonicalization (the `c_url_canon` primitive,
    * IDEMPOTENT — spec-checked): lowercase scheme and host, strip a
    * leading `www.`, strip the fragment, drop `utm_*` tracking params
    * (and any dangling `?`/`&`), strip a trailing slash, and strip the
    * DEFAULT port scheme-conditionally — `:80` only for http, `:443`
    * only for https; `https://host:80` is a different resource from
    * `https://host` and must not merge. Pure codegen'd regex chain.
    */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val sch = lower(regexp_extract(noFrag, "^([A-Za-z]+)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z]+://", "")
    val hostRaw = regexp_replace(
      lower(regexp_extract(rest, "^([^/?]+)", 1)), "^www\\.", "")
    val host = when(sch === "http", regexp_replace(hostRaw, ":80$", ""))
      .when(sch === "https", regexp_replace(hostRaw, ":443$", ""))
      .otherwise(hostRaw)
    val tail = regexp_replace(
      regexp_replace(
        regexp_replace(regexp_replace(rest, "^[^/?]+", ""),
          "utm_[A-Za-z]+=[^&]*&?", ""),
        "[?&]$", ""),
      "/(\\?|$)", "$1")
    concat(sch, lit("://"), host, tail)
  }

  /** Redact PII in-place: email → [EMAIL], IPv4 → [IP], phone → [PHONE].
    * IP before phone so `10.0.42.7` is consumed whole, never partially as a
    * phone-shaped `nnn-nnnn` remainder.
    */
  def redactPii(c: Column): Column = {
    val e = regexp_replace(c, EmailRe, "[EMAIL]")
    val i = regexp_replace(e, Ipv4Re, "[IP]")
    regexp_replace(i, PhoneRe, "[PHONE]")
  }

  /** Strip markup: drop tags, collapse the leftover whitespace. The
    * whitespace class is EXPLICIT because java.util.regex `\s` includes
    * `\x0B` while DuckDB's RE2 `\s` does not — a vertical tab in a document
    * would otherwise break cross-engine parity.
    */
  def stripHtml(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "<[^>]+>", " "), "[ \\t\\n\\x0B\\f\\r]+", " "))

  /** Whitespace tokens (same definition as [[Text.tokens]]). */
  def tokens(c: Column): Column = Text.tokens(c)

  /** Adjacent word n-grams of a token array (n ≥ 2), joined with spaces.
    * Empty for arrays shorter than n (guarded: `sequence(0, size-n)` would
    * otherwise run DESCENDING and hit index 0, an ANSI error).
    *
    * `sp` MUST be a materialized column (AttributeReference), not a raw
    * `split(...)` expression: the lambda embeds `sp` once per n-gram
    * position, and higher-order-function lambdas re-evaluate embedded
    * expressions PER ELEMENT — passing the split itself turns a linear
    * scan into O(tokens²) regex splits per document (measured 11 s → 0.6 s
    * on c_repetition at sf0.1).
    */
  def wordNgrams(sp: Column, n: Int): Column =
    when(size(sp) >= n,
      transform(sequence(lit(0), size(sp) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(sp, i + k + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  // ---------------------------------------------------------------- corpus

  val queries: Map[String, Q] = Map(
    // PII redaction. The synthetic corpus has no PII, so both engines embed
    // the SAME deterministic contact block (a pure function of doc_id) and
    // the redactor is exercised against real email/phone/IP shapes.
    "c_pii_redact" -> ((s, d) => {
      val dirty = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or call 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" from 10.0."), pmod(col("doc_id"), lit(256)),
        lit("."), pmod(col("doc_id"), lit(100)))
      val clean = redactPii(dirty)
      t(s, d, "documents")
        .select(col("lang"), dirty.as("dirty"), clean.as("clean"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(regexp_count(col("dirty"), lit(EmailRe))).cast("bigint").as("n_email"),
          sum(regexp_count(col("dirty"), lit(Ipv4Re))).cast("bigint").as("n_ip"),
          sum(regexp_count(col("clean"), lit(PhoneRe))).cast("bigint").as("n_phone_left"),
          sum(length(col("dirty")) - length(col("clean"))).cast("bigint").as("chars_redacted"))
        .orderBy("lang")
    }),

    // Markup stripping: wrap each doc in a deterministic HTML shell (same
    // construction in the oracle), strip tags, report size reduction.
    "c_html_strip" -> ((s, d) => {
      val html = concat(lit("<html><body><p>"), col("text"),
        lit("</p><br/><a href=\"https://ex.invalid/"), col("doc_id"),
        lit("\">doc</a></body></html>"))
      val clean = stripHtml(html)
      t(s, d, "documents")
        .select(col("lang"), html.as("html"), clean.as("clean"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("html"))).cast("bigint").as("html_chars"),
          sum(length(col("clean"))).cast("bigint").as("clean_chars"),
          round(avg(length(col("clean")).cast("double") / length(col("html"))), 4).as("avg_keep_ratio"))
        .orderBy("lang")
    }),

    // Gopher-style quality gates: word count, mean word length, top-word
    // fraction, distinct-word fraction → keep/drop. The top-word count
    // is the native per-row TopTokenCount (r20, guide §2.4: the former
    // explode → two groupBys → join shuffled the exploded token stream
    // twice for a per-row decision); everything else is narrow.
    "c_gopher_quality" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("sp"))
        .select(col("lang"),
          size(col("sp")).as("n_words"),
          size(array_distinct(col("sp"))).as("n_distinct"),
          graft.functions.GraftFunctions.topTokenCount(col("sp")).as("top_cnt"))
        .select(col("lang"), col("n_words"),
          (col("top_cnt").cast("double") / col("n_words")).as("top_frac"),
          (col("n_distinct").cast("double") / col("n_words")).as("distinct_frac"),
          (col("n_words") >= 20 &&
            col("top_cnt").cast("double") / col("n_words") <= 0.15).as("pass"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pass"), 1L).otherwise(0L)).cast("bigint").as("n_pass"),
          round(avg("top_frac"), 4).as("avg_top_frac"),
          round(avg("distinct_frac"), 4).as("avg_distinct_frac"))
        .orderBy("lang")),

    // Repetition metrics per document — duplicate-word and duplicate-bigram
    // fractions, computed with array ops only (no explode, no shuffle
    // beyond the final sort).
    "c_repetition" -> ((s, d) => {
      // tokens materialize at a projection boundary BEFORE the n-gram
      // lambda sees them (see wordNgrams scaladoc: passing the split
      // expression itself re-runs the regex per element)
      t(s, d, "documents")
        .select(col("doc_id"), tokens(col("text")).as("sp"))
        .select(col("doc_id"), col("sp"), wordNgrams(col("sp"), 2).as("bi"))
        .select(col("doc_id"),
          size(col("sp")).cast("bigint").as("n_words"),
          round(lit(1.0) - size(array_distinct(col("sp"))).cast("double") / size(col("sp")), 4).as("dup_word_frac"),
          when(size(col("bi")) >= 1,
            round(lit(1.0) - size(array_distinct(col("bi"))).cast("double") / size(col("bi")), 4))
            .otherwise(lit(null)).as("dup_bigram_frac"))
        .orderBy("doc_id")
    }),

    // Benchmark contamination: docs sharing any word-trigram with the
    // held-out "benchmark" slice (doc_id % 7 = 0). The benchmark trigram
    // set is distinct'd then broadcast — at 100 TB the corpus side stays a
    // narrow scan + explode feeding a broadcast LEFT SEMI join, no shuffle
    // of the big side. (Real pipelines use 8-13-grams; the synthetic vocab
    // is ~30 words, so trigrams give a non-degenerate overlap rate.)
    "c_contamination" -> ((s, d) => {
      val grams = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("sp"))
        .select(col("doc_id"), col("lang"),
          explode(array_distinct(wordNgrams(col("sp"), 3))).as("gram"))
      val benchGrams = grams.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select("gram").distinct()
      val contaminated = grams.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .join(broadcast(benchGrams), Seq("gram"), "left_semi")
        .select("doc_id", "lang").distinct()
        .groupBy("lang").agg(count(lit(1)).as("contaminated"))
      val totals = t(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .groupBy("lang").agg(count(lit(1)).as("total_docs"))
      totals.join(contaminated, Seq("lang"), "left")
        .select(col("lang"), col("total_docs"),
          coalesce(col("contaminated"), lit(0L)).as("contaminated"),
          round(coalesce(col("contaminated"), lit(0L)).cast("double") / col("total_docs"), 4).as("frac"))
        .orderBy("lang")
    }),

    // Deterministic ~10% uniform sample: keep when the first md5(text) byte
    // is ≤ 0x19 (26/256). Reproducible across engines and runs — the
    // training-data sampling primitive (no RNG, no seed drift).
    "c_hash_sample" -> ((s, d) => {
      val keep = substring(md5(col("text")), 1, 2) <= "19"
      t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("total"),
          sum(when(keep, 1L).otherwise(0L)).cast("bigint").as("kept"),
          round(sum(when(keep, 1L).otherwise(0L)).cast("double") / count(lit(1)), 4).as("rate"))
        .orderBy("lang")
    }),

    // Stratified sampling: per-language rates (en down-sampled to ~5%,
    // the rest kept at ~20%) via the same md5 draw — domain/language
    // mixing for a training corpus, deterministic.
    "c_stratified_sample" -> ((s, d) => {
      val threshold = when(col("lang") === "en", lit("0c")).otherwise(lit("33"))
      val keep = substring(md5(col("text")), 1, 2) <= threshold
      t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("total"),
          sum(when(keep, 1L).otherwise(0L)).cast("bigint").as("kept"),
          round(sum(when(keep, 1L).otherwise(0L)).cast("double") / count(lit(1)), 4).as("rate"))
        .orderBy("lang")
    }),

    // Sequence packing: shard by doc_id (8 shards here; cardinality is the
    // caller's parallelism knob), then within each shard chunk docs in
    // doc_id order into 512-token context bins via a running token sum.
    // The window partitions on the shard key, so state per task is one
    // running sum — no global sort, no single-partition window.
    "c_pack_sequences" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ctx = 512
      val docs = t(s, d, "documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"),
          size(tokens(col("text"))).cast("bigint").as("n_tokens"))
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val binned = docs
        .withColumn("cum", sum("n_tokens").over(w))
        .withColumn("bin", expr(s"(cum - n_tokens) div $ctx"))
      binned.groupBy("shard", "bin")
        .agg(sum("n_tokens").as("bin_tokens"), count(lit(1)).as("n_docs"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_bins"),
          max("bin_tokens").cast("bigint").as("max_bin_tokens"),
          round(avg("bin_tokens"), 2).as("avg_bin_tokens"),
          sum("n_docs").cast("bigint").as("n_docs"))
        .orderBy("shard")
    }),

    // Overlapping-window chunking — the retrieval/context-prep primitive
    // between curation and tokenization: each document splits into
    // fixed-width char windows (W=200) advancing by stride S=150, so
    // consecutive chunks overlap by 50 chars and no boundary content is
    // lost to a cut. The chunk COUNT is closed-form (n = 1 if len ≤ W
    // else ceil((len−W)/S)+1), so the generator explodes O(len/S)
    // CHUNK-sized rows per doc — never a per-character stream — and the
    // last chunk clips to the doc end, making coverage exact. Output:
    // per-source chunk accounting including the overlap volume
    // (sum chunk chars − doc chars), the token-duplication cost the
    // stride choice buys — the number a pipeline tunes W/S against.
    "c_chunk_windows" -> ((s, d) => {
      val w = 200
      val st = 150
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          length(col("text")).cast("bigint").as("len"))
        .withColumn("n_chunks",
          when(col("len") <= w, lit(1L)).otherwise(
            ceil((col("len") - w).cast("double") / st).cast("bigint") + lit(1L)))
      val chunks = docs
        .select(col("doc_id"), col("source"), col("len"),
          explode(expr("sequence(0, n_chunks - 1)")).as("i"))
        .select(col("doc_id"), col("source"), col("len"),
          (col("i") * st).as("start"))
        .withColumn("chunk_len", least(lit(w.toLong), col("len") - col("start")))
      chunks.groupBy("source")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum("chunk_len").cast("bigint").as("sum_chunk_chars"),
          round((sum("chunk_len") -
              sum(when(col("start") === 0, col("len")).otherwise(0L)))
            .cast("double") / countDistinct("doc_id"), 4)
            .as("avg_overlap_chars"))
        .orderBy("source")
    }),

    // Deterministic global shuffle / shard assignment: shard on the first
    // md5(text) nibble (16 shards). Balance stats per shard prove the
    // assignment spreads bytes evenly — the write-side primitive for
    // training shards.
    "c_shard_assign" -> ((s, d) =>
      t(s, d, "documents")
        .select(substring(md5(col("text")), 1, 1).as("shard"),
          col("doc_id"), col("n_chars"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("bigint").as("sum_chars"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("shard")),

    // Unicode NFC normalization via the native codegen'd `unicode_norm`
    // expression (graft.functions.NormalizeUnicode): a crawl mixes
    // precomposed ("é", U+00E9) and decomposed ("e"+U+0301) spellings of
    // the same text, which breaks exact-dedup fingerprints and token
    // stats. The corpus is ASCII, so each engine appends the SAME
    // deterministic suffix (decomposed / precomposed / plain, by doc_id%3)
    // and the normalizer is exercised against real combining sequences.
    "c_unicode_norm" -> ((s, d) => {
      val decomposed = " cafe\u0301" // e + COMBINING ACUTE ACCENT (not NFC)
      val precomposed = " caf\u00e9" // single-codepoint LATIN SMALL E ACUTE (already NFC)
      val suffix = when(pmod(col("doc_id"), lit(3)) === 0, lit(decomposed))
        .when(pmod(col("doc_id"), lit(3)) === 1, lit(precomposed))
        .otherwise(lit(" cafe"))
      val dirty = concat(col("text"), suffix)
      t(s, d, "documents")
        .select(col("lang"), dirty.as("dirty"))
        .select(col("lang"), col("dirty"),
          graft.functions.GraftFunctions.unicodeNorm(col("dirty")).as("nrm"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("nrm") =!= col("dirty"), 1L).otherwise(0L)).cast("bigint").as("n_changed"),
          sum(length(col("dirty"))).cast("bigint").as("chars_raw"),
          sum(length(col("nrm"))).cast("bigint").as("chars_nfc"))
        .orderBy("lang")
    }),

    // Temperature-based language rebalancing (the multilingual mixing rule:
    // p_l ∝ (n_l/N)^α, α=0.5): up-weights low-resource languages when
    // drawing a training mix. sqrt (correctly rounded in IEEE, unlike pow)
    // keeps the per-language weights bit-identical across engines; weights
    // are rounded to 9 dp before the normalizing sum. Two tiny broadcasts
    // over a lang-cardinality aggregate — nothing scales with corpus size.
    "c_lang_mix" -> ((s, d) => {
      val counts = t(s, d, "documents").groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum("n_docs").as("n_total"))
      val w = counts.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("n_total"),
          round(sqrt(col("n_docs").cast("double") / col("n_total")), 9).as("w"))
      val z = w.agg(sum("w").as("z"))
      w.crossJoin(broadcast(z))
        .select(col("lang"), col("n_docs").cast("bigint").as("n_docs"),
          round(col("w") / col("z"), 4).as("p_sample"),
          round(col("w") / col("z") * col("n_total"), 2).as("target_docs"))
        .orderBy("lang")
    }),

    // Bloom-style contamination prefilter: hash each benchmark n-gram into
    // a 2^22 bucket space and semi-join the corpus on BUCKET ids instead of
    // strings — at 100 TB the broadcast set shrinks from gram strings to
    // distinct longs, and a production variant would run the exact string
    // check only on the bucket-join survivors. HERE the exact pass
    // deliberately scans the FULL corpus: it is the audit that proves the
    // prefilter's no-false-negative guarantee (a one-hash Bloom filter
    // cannot miss), so the query outputs that assertion (n_missed = 0),
    // making a hash-specific structure fully oracle-checkable.
    "c_contam_bloom" -> ((s, d) => {
      val m = (1L << 22)
      val grams = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("sp"))
        .select(col("doc_id"), col("lang"),
          explode(array_distinct(wordNgrams(col("sp"), 3))).as("gram"))
      // r20 (guide §2.4): the former shape derived the bench-gram subtree
      // TWICE (the bucket broadcast and the exact-gram broadcast each
      // re-ran the documents scan + n-gram explode) and the corpus-gram
      // subtree TWICE (one pass for bucket candidates, one for the exact
      // semi-join). The bench grams are one bounded localCheckpoint both
      // broadcasts derive from, and ONE corpus pass carries both flags
      // (exact hit, bucket hit) into a per-doc max — same doc sets, same
      // per-lang counts.
      val benchG = grams.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select("gram").distinct().localCheckpoint()
      val benchBuckets = benchG
        .select(pmod(xxhash64(col("gram")), lit(m)).as("bkt")).distinct()
      val flags = grams.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .join(broadcast(benchG.withColumn("ex", lit(1L))), Seq("gram"), "left")
        .withColumn("bkt", pmod(xxhash64(col("gram")), lit(m)))
        .join(broadcast(benchBuckets.withColumn("cd", lit(1L))), Seq("bkt"), "left")
        .groupBy("doc_id", "lang")
        .agg(max(coalesce(col("ex"), lit(0L))).as("ex"),
          max(coalesce(col("cd"), lit(0L))).as("cd"))
        .filter(col("ex") === 1L)
      flags.groupBy("lang")
        .agg(count(lit(1)).as("n_exact"),
          sum(when(col("cd") === 0L, 1L).otherwise(0L)).cast("bigint").as("n_missed"))
        .select(col("lang"), col("n_exact"), col("n_missed"),
          (col("n_missed") === 0).as("pass"))
        .orderBy("lang")
    }),

    // Line-level dedup (the C4 / RefinedWeb rule): drop every repeated
    // "line" corpus-wide, keeping only the first occurrence. The corpus
    // text has no newlines, so a line is a fixed 10-token chunk —
    // position-preserving and deterministic on both engines. First
    // occurrence = min (doc_id, pos) per chunk via ONE window whose
    // partition is the chunk itself: group sizes are the duplication
    // factor (small), so the sort inside each group is trivial at any
    // corpus size, and the only shuffle is on the chunk hash. Reports
    // per-lang removal stats rather than the (huge) surviving text.
    "c_line_dedup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val chunks = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("sp"))
        .filter(size(col("sp")) >= 10)
        .select(col("doc_id"), col("lang"),
          posexplode(expr(
            "transform(sequence(0, cast(size(sp) / 10 as int) - 1), " +
              "i -> array_join(slice(sp, i * 10 + 1, 10), ' '))")))
        .withColumnRenamed("col", "chunk")
      val w = Window.partitionBy("chunk").orderBy(col("doc_id"), col("pos"))
      chunks.withColumn("rn", row_number().over(w))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).cast("bigint").as("n_removed"),
          countDistinct(when(col("rn") > 1, col("doc_id"))).as("docs_affected"),
          coalesce(sum(when(col("rn") > 1, length(col("chunk")))), lit(0L))
            .cast("bigint").as("chars_removed"))
        .orderBy("lang")
    }),

    // Token-budget sampling: per language, greedily keep the
    // largest-token-count docs until a fixed token budget fills (the
    // "best docs under a budget" curation draw). One window per lang with
    // a deterministic (n_tok desc, doc_id) order; the running sum is a
    // ROWS frame — a single shuffle on lang and a streaming cumsum, no
    // self-join. Budget utilization is exact integer arithmetic.
    "c_token_budget" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 3000L
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("bigint").as("n_tok"))
      val w = Window.partitionBy("lang").orderBy(col("n_tok").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.withColumn("cum_tok", sum("n_tok").over(w))
        .filter(col("cum_tok") <= budget)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs_kept"),
          max("cum_tok").as("tokens_used"),
          round(max("cum_tok").cast("double") / budget * 100, 2).as("util_pct"))
        .orderBy("lang")
    }),

    // Weighted sampling without an RNG (Efraimidis–Spirakis A-ES): each doc
    // draws u ∈ (0,1] from md5(text) — the c_hash_sample determinism
    // discipline — and gets priority ln(u)/weight (log-domain u^(1/w),
    // same ordering, no pow); the top-10 priorities per language are the
    // sample. Longer docs (weight = n_chars) are proportionally likelier.
    // One narrow map + a per-lang top-k window; priorities are rounded to
    // 9 dp before ranking (ln differs in the last ulp between libm and
    // Math.log) with a doc_id tiebreak.
    "c_weighted_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // 16^12 = 2^48: the 12-hex-char prefix is exact in a double, and the
      // division by a power of two is exact, so u is bit-identical on both
      // engines
      val u = (conv(substring(md5(col("text")), 1, 12), 16, 10).cast("double") + 1.0) /
        281474976710656.0
      val w = Window.partitionBy("lang")
        .orderBy(col("priority").desc, col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(log(u) / col("n_chars"), 9).as("priority"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("lang"), col("rk").cast("bigint").as("rk"),
          col("doc_id"), col("n_chars"))
        .orderBy("lang", "rk")
    }),

    // URL canonicalization + dedup — the crawl-frontier merge step: raw
    // URLs that differ only in scheme/host case, a `www.` prefix, a
    // default port, utm_* tracking params, a fragment, or a trailing
    // slash are the SAME resource and must collapse before fetch/dedup.
    // Two deterministic raw variants per doc (messy + near-clean, the
    // t_url_extract synthesis discipline — no URLs in the corpus text)
    // canonicalize to one key; the whole op is a narrow regexp map plus
    // one partial-agg'd groupBy on the canonical key. At 100 TB this is
    // the exact-dedup shape: shuffle on canon, never pairwise.
    "c_url_canon" -> ((s, d) => {
      val a = pmod(col("doc_id"), lit(7)).cast("string")
      val b = pmod(col("doc_id"), lit(11)).cast("string")
      val c = pmod(col("doc_id"), lit(5)).cast("string")
      val scheme = when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTP"))
        .otherwise(lit("https"))
      val qRaw = when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("?utm_source=x&id="), c))
        .when(pmod(col("doc_id"), lit(5)) === 0, concat(lit("?id="), c))
        .otherwise(lit(""))
      val qClean = when(pmod(col("doc_id"), lit(2)) === 0 ||
          pmod(col("doc_id"), lit(5)) === 0, concat(lit("?id="), c))
        .otherwise(lit(""))
      val messy = concat(scheme, lit("://WWW.Site"), a, lit(".Example.COM"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(":80")).otherwise(lit("")),
        lit("/a/"), b,
        when(pmod(col("doc_id"), lit(4)) === 0, lit("/")).otherwise(lit("")),
        qRaw,
        when(pmod(col("doc_id"), lit(6)) === 0, lit("#frag")).otherwise(lit("")))
      val nearClean = concat(lower(scheme), lit("://site"), a,
        lit(".example.com/a/"), b, qClean,
        when(pmod(col("doc_id"), lit(6)) === 0, lit("#top")).otherwise(lit("")))
      t(s, d, "documents")
        .select(col("doc_id"), explode(array(messy, nearClean)).as("url"))
        .select(col("doc_id"), col("url"),
          canonicalizeUrl(col("url")).as("canon"))
        .groupBy("canon")
        .agg(count(lit(1)).as("n_refs"),
          countDistinct(col("url")).as("n_raw_forms"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("canon")
    }),

    // Domain-blocklist filtering — the crawl-hygiene gate that runs before
    // any content-level curation: documents whose source domain is on a
    // deny list are dropped via a BROADCAST LEFT-ANTI join (the blocklist
    // is thousands of rows against billions of docs — never a shuffle of
    // the corpus, and never an `IN` list compiled into the plan, so the
    // same plan serves a blocklist loaded from a table). Domains are
    // doc_id-derived (the t_url_extract synthesis discipline).
    "c_domain_blocklist" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          concat(lit("site"), pmod(col("doc_id"), lit(7)).cast("string"),
            lit(".example.com")).as("domain"))
      val bl = Seq("site1.example.com", "site3.example.com", "site5.example.com")
        .toDF("domain")
      val kept = docs.join(broadcast(bl), Seq("domain"), "left_anti")
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_blocked"))
        .orderBy("lang")
    }),

    // Differentially-private group counts via the Laplace mechanism —
    // what a pipeline publishes when corpus composition stats leave the
    // trust boundary. Count queries have sensitivity 1, so noise ~
    // Laplace(1/ε) via inverse-CDF: −(1/ε)·sign(u−½)·ln(1−2|u−½|). The
    // "random" draw u is the c_weighted_sample discipline — a 48-bit
    // md5 prefix of the group key (exact in a double, /2^48 exact), NOT
    // an RNG — so the noise is reproducible across runs AND engines; the
    // +0.5 offset keeps u strictly inside (0,1) so ln never sees 0. One
    // tiny aggregate; noise is a 5-row map on the driver-bound result.
    "c_dp_count" -> ((s, d) => {
      val u = (conv(substring(md5(concat(col("lang"), lit("|dp-seed"))), 1, 12),
        16, 10).cast("double") + 0.5) / 281474976710656.0
      val noise = (lit(-1.0) * signum(u - 0.5) *
        log(lit(1.0) - lit(2.0) * abs(u - 0.5)))
      t(s, d, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .select(col("lang"),
          round(col("n") + noise, 3).as("noisy_n"),
          lit(1.0).as("epsilon"))
        .orderBy("lang")
    }),

    // Incremental-crawl dedup — the daily-ingest gate: a new batch only
    // keeps documents whose normalized fingerprint is NOT in yesterday's
    // snapshot. The batch is simulated deterministically: every 3rd doc
    // "re-crawls" with whitespace noise (normText collapses it → same
    // fingerprint → must dedup) and every 5th+1 arrives genuinely
    // modified (→ fresh). Anti-join on the fingerprint — at 100 TB the
    // snapshot side is a fingerprint INDEX (narrow column), and the join
    // shuffles on fp or probes a broadcast Bloom prefilter
    // (c_contam_bloom) before the exact check.
    "c_incr_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def fp(c: Column): Column = md5(Text.normText(c))
      val snapshot = docs.select(fp(col("text")).as("fp"))
      val recrawl = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("lang"),
          concat(lit("  "), regexp_replace(col("text"), " ", "   ")).as("text"))
      val modified = docs.filter(pmod(col("doc_id"), lit(5)) === 1)
        .select(col("lang"),
          concat(col("text"), lit(" updated-"), col("doc_id").cast("string")).as("text"))
      val batch = recrawl.unionByName(modified).withColumn("fp", fp(col("text")))
      val fresh = batch.join(snapshot, Seq("fp"), "left_anti")
        .groupBy("lang").agg(count(lit(1)).as("n_fresh"))
      batch.groupBy("lang").agg(count(lit(1)).as("n_batch"))
        .join(fresh, Seq("lang"), "left")
        .select(col("lang"), col("n_batch"),
          coalesce(col("n_fresh"), lit(0L)).as("n_fresh"),
          (col("n_batch") - coalesce(col("n_fresh"), lit(0L))).as("n_deduped"))
        .orderBy("lang")
    }),

    // CCNet-style perplexity bucketing — split the corpus into head /
    // middle / tail thirds by bigram-LM score (reusing t_doc_logprob's
    // per-doc avg log-prob VERBATIM — same plan, so the LM trains once per
    // job and the bucket boundaries are the corpus-wide terciles), then
    // report the lang × bucket composition a curation run would sample
    // from. The cuts are exact percentiles of the ROUNDED per-doc score
    // (deterministic input → deterministic interpolation on both engines)
    // broadcast from a 1-row aggregate; bucketing is a pure per-row
    // comparison. Higher avg log-prob = more predictable = "head".
    "c_perplexity_buckets" -> ((s, d) => {
      // persist the per-doc scores: both the tercile cuts and the bucketing
      // join consume them, and without the cache each consumer re-trains
      // the bigram LM (doc_id + one double per doc — tiny). Cache lifetime:
      // Verify/Bench clearCache() after each query's final consumer.
      val lp = Text.queries("t_doc_logprob")(s, d)
        .select(col("doc_id"), col("avg_logprob")).persist()
      // 1.0d: Spark SQL's bare 1.0 literal is DECIMAL — the cut must be the
      // IEEE double 1/3 to match DuckDB's double division exactly
      val cuts = lp.agg(
        expr("percentile(avg_logprob, array(1.0d/3, 2.0d/3))").as("c"))
      lp.join(t(s, d, "documents").select("doc_id", "lang"), "doc_id")
        .crossJoin(broadcast(cuts))
        .withColumn("bucket",
          when(col("avg_logprob") >= col("c").getItem(1), "head")
            .when(col("avg_logprob") >= col("c").getItem(0), "middle")
            .otherwise("tail"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("avg_logprob"), 4).as("avg_lp"))
        .orderBy("lang", "bucket")
    }),

    // Quality-aware exact dedup — keep the BEST copy per fingerprint group
    // (longest text, then smallest id as the deterministic tie-break),
    // where d_exact_dedup keeps the first-seen. This is how production
    // dedup actually chooses: survivors should be the richest instance,
    // not an arbitrary one. Runs over the dedup family's planted-dup
    // corpus (Dedup.corpusWithDups — every doc_id % 5 == 0 appears twice)
    // so the keep/drop arithmetic is exercised. One shuffle on the
    // fingerprint (row_number over high-cardinality bounded-size groups),
    // then a per-lang partial-agg'd report of what was kept vs dropped.
    "c_dedup_keep_best" -> ((s, d) => {
      val w = Window.partitionBy("fp").orderBy(col("n_chars").desc, col("doc_id"))
      Dedup.corpusWithDups(s, d)
        .withColumn("fp", md5(Text.normText(col("text"))))
        .withColumn("rn", row_number().over(w))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).cast("bigint").as("n_kept"),
          coalesce(sum(when(col("rn") > 1, col("n_chars"))), lit(0L))
            .cast("bigint").as("chars_dropped"))
        .orderBy("lang")
    }),

    // Train/val/test split with a dedup-aware leakage guard — the split
    // key must be the content FINGERPRINT, not the row id: two copies of
    // one document split by id can land train AND test (contamination of
    // the eval set). Runs over the planted-dup corpus so the leak is
    // real. Both strategies are computed side by side: the
    // fingerprint-keyed 80/10/10 (hex-prefix thresholds on md5(fp) — the
    // c_hash_sample determinism) must report ZERO leaked fingerprints; the
    // naive id-keyed split reports how many fingerprints straddle splits.
    // Two partial-agg'd passes over a stamped union; no joins on
    // data-scale keys beyond the fingerprint groupBy.
    "c_leakage_split" -> ((s, d) => {
      val docs = Dedup.corpusWithDups(s, d)
        .withColumn("fp", md5(Text.normText(col("text"))))
      val byFp = docs.withColumn("split",
          when(substring(md5(col("fp")), 1, 2) < "cc", "train")
            .when(substring(md5(col("fp")), 1, 2) < "e6", "val")
            .otherwise("test"))
        .withColumn("strategy", lit("by_fingerprint"))
      // id-keyed comparison arm: same 80/10/10 hex thresholds but keyed on
      // the ROW id — copies of one text get different ids, hence different
      // splits (a modulo split would also leak, but the planted corpus's
      // even-skewed ids would leave its test bucket empty)
      val byId = docs.withColumn("split",
          when(substring(md5(col("doc_id").cast("string")), 1, 2) < "cc", "train")
            .when(substring(md5(col("doc_id").cast("string")), 1, 2) < "e6", "val")
            .otherwise("test"))
        .withColumn("strategy", lit("by_doc_id"))
      val all = byFp.unionByName(byId)
      val leaks = all.select("strategy", "fp", "split").distinct()
        .groupBy("strategy", "fp").agg(countDistinct("split").as("ns"))
        .groupBy("strategy")
        .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).cast("bigint").as("n_leaked_fps"))
      all.groupBy("strategy")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("fp").as("n_fps"),
          countDistinct("split").as("n_splits"))
        .join(leaks, "strategy")
        .orderBy("strategy")
    }),

    // Data-mixing scheduler — hit a TARGET language mixture (en 40%, the
    // rest split evenly) inside a token budget of half the corpus, then
    // actually APPLY it with the exact-uniform md5 draw (the
    // c_weighted_sample 2⁴⁸ construction, bit-identical cross-engine).
    // Per-lang sampling rate = min(1, budgeted_tokens / available_tokens)
    // — oversubscribed languages downsample, scarce ones keep everything
    // (real mixtures can't conjure missing tokens; the achieved share
    // shows the shortfall). Token counts and rates derive from two tiny
    // aggregates broadcast back; the keep decision is a narrow per-row
    // comparison. The achieved share is a window over |langs| rows.
    "c_mix_schedule" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("lang"), col("text"),
          size(Text.tokens(col("text"))).cast("long").as("n_tok"))
      val avail = docs.groupBy("lang").agg(sum("n_tok").as("avail_tokens"))
      val tot = avail.agg(sum("avail_tokens").cast("double").as("total"),
        count(lit(1)).cast("double").as("n_langs"))
      val rates = avail.crossJoin(broadcast(tot))
        .select(col("lang"), col("avail_tokens"),
          when(col("lang") === "en", 0.4)
            .otherwise((lit(1.0) - 0.4) / (col("n_langs") - 1.0)).as("w"),
          col("total"))
        .select(col("lang"), col("avail_tokens"),
          round(col("w"), 6).as("target_share"),
          least(lit(1.0),
            (lit(0.5) * col("total") * col("w")) / col("avail_tokens")).as("rate"))
      val u = (conv(substring(md5(col("text")), 1, 12), 16, 10).cast("double") + 1.0) /
        281474976710656.0
      docs.join(broadcast(rates), "lang")
        .select(col("lang"), col("avail_tokens"), col("target_share"), col("rate"),
          col("n_tok"), (u < col("rate")).as("keep"))
        .groupBy("lang", "avail_tokens", "target_share")
        .agg(round(max(col("rate")), 6).as("rate6"),
          sum(when(col("keep"), 1L).otherwise(0L)).cast("bigint").as("n_kept"),
          coalesce(sum(when(col("keep"), col("n_tok"))), lit(0L)).as("kept_tokens"))
        // global window over the per-LANGUAGE aggregate (≤ the language
        // vocabulary, volume-invariant — pinned in WindowBoundSpec), never
        // over documents
        .withColumn("achieved_share",
          round(col("kept_tokens") / sum("kept_tokens").over(
            org.apache.spark.sql.expressions.Window.partitionBy()), 6))
        .orderBy("lang")
    }),

    // k-anonymity audit — the release gate on quasi-identifiers: any
    // (lang, source) combination shared by fewer than k = 5 documents
    // re-identifies its members and must be suppressed before the dataset
    // ships (the group-size complement of c_dp_count's noisy counts). One
    // partial-agg'd groupBy over the scan builds the equivalence classes;
    // the audit roll-up is a second aggregate over the bounded class
    // table. Reports class counts, violating classes, rows to suppress,
    // and the post-suppression minimum class size (= the achieved k).
    "c_k_anonymity" -> ((s, d) => {
      val classes = t(s, d, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      classes.agg(
        count(lit(1)).as("n_classes"),
        sum(when(col("n") < 5, 1L).otherwise(0L)).cast("bigint").as("n_violating"),
        sum("n").cast("bigint").as("n_docs"),
        coalesce(sum(when(col("n") < 5, col("n"))), lit(0L)).cast("bigint")
          .as("n_suppressed"),
        coalesce(min(when(col("n") >= 5, col("n"))), lit(0L)).cast("bigint")
          .as("achieved_k"))
    }),

    // DSIR-style importance weights (Data Selection via Importance
    // Resampling): score every document by how much its unigrams look
    // like the TARGET distribution (lang='en' here) versus the general
    // corpus — the standard cheap re-weighting step before pretraining
    // data selection. One token explode feeds BOTH add-1-smoothed LMs
    // (the target counts are a conditional sum inside the same vocabulary
    // aggregate — never a second scan); per-token log ratios are
    // vocabulary-sized and joined back UNHINTED (vocab grows with the
    // corpus under Heaps' law, so the planner must stay free to shuffle;
    // AQE broadcasts at test SFs). Per-doc weight = mean token log ratio,
    // summed as 9-dp DECIMAL so token order can't shift the hash.
    "c_dsir_weights" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          explode(Text.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy("tok").agg(
        count(lit(1)).as("cg"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
      val tot = vocab.agg(
        sum("cg").cast("double").as("ng"),
        sum("ct").cast("double").as("nt"),
        count(lit(1)).cast("double").as("v"))
      val lr = vocab.crossJoin(broadcast(tot))
        .select(col("tok"),
          round(log(((col("ct") + 1) / (col("nt") + col("v"))) /
            ((col("cg") + 1) / (col("ng") + col("v")))), 9)
            .cast("decimal(28,9)").as("lr9"))
      val perDoc = toks.join(lr, "tok")
        .groupBy("doc_id", "lang")
        .agg(sum("lr9").as("w"), count(lit(1)).as("n_tok"))
        .select(col("lang"),
          round(col("w").cast("double") / col("n_tok"), 6).as("nw"))
      perDoc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          // exact: a double avg of 6-dp values depends on the shuffle's
          // summation order, so the mean accumulates over decimal(18,6)
          round(avg(col("nw").cast("decimal(18,6)")), 6).cast("double")
            .as("avg_nw"),
          sum(when(col("nw") > 0, 1L).otherwise(0L)).cast("bigint").as("n_pos"))
        .select(col("lang"), col("n_docs"), col("avg_nw"), col("n_pos"),
          round(col("n_pos") / col("n_docs"), 4).as("pos_share"))
        .orderBy("lang")
    }),

    // Encoding-quality audit — the crawl-ingest gate that catches broken
    // decodes BEFORE they poison tokenizers: per language, how many docs
    // carry U+FFFD replacement chars (a decoder already gave up), raw C0
    // control bytes (binary contamination; tab/newline family excluded),
    // U+00C3 'Ã' (the classic UTF-8-read-as-Latin-1 mojibake signature),
    // or non-breaking spaces (invisible token splitters). Pure per-row
    // regex/contains predicates folded by one partial-agg'd groupBy —
    // narrow scan, no shuffle beyond the bounded lang key.
    "c_encoding_qa" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("text").contains("\ufffd"), 1L).otherwise(0L))
            .cast("bigint").as("n_replacement"),
          sum(when(col("text").rlike("[\\x00-\\x08\\x0e-\\x1f]"), 1L).otherwise(0L))
            .cast("bigint").as("n_ctrl"),
          sum(when(col("text").contains("\u00c3"), 1L).otherwise(0L))
            .cast("bigint").as("n_mojibake"),
          sum(when(col("text").contains("\u00a0"), 1L).otherwise(0L))
            .cast("bigint").as("n_nbsp"),
          sum(when(!(col("text").contains("\ufffd") ||
              col("text").rlike("[\\x00-\\x08\\x0e-\\x1f]") ||
              col("text").contains("\u00c3") || col("text").contains("\u00a0")),
            1L).otherwise(0L)).cast("bigint").as("n_clean"))
        .withColumn("clean_share", round(col("n_clean") / col("n_docs"), 4))
        .orderBy("lang")),

    // Tokenizer-fertility profile — bytes and chars per (BPE-ish) token
    // by language: the number every multilingual data-mixing plan needs,
    // because a fixed token budget buys ~4× less zh text per byte than
    // en. Whitespace tokens and the t_token_count BPE-ish regex both
    // counted in the SAME single-pass aggregate; ratios are exact
    // long-sum divisions rounded at the end (order-independent).
    "c_tokenizer_fertility" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("bigint").as("n_chars"),
          sum(octet_length(col("text"))).cast("bigint").as("n_bytes"),
          sum(size(Text.tokens(col("text")))).cast("bigint").as("n_ws_tokens"),
          sum(regexp_count(col("text"),
            lit("\\w+|[^\\w" + Text.wsChars + "]"))).cast("bigint").as("n_bpeish"))
        .select(col("lang"), col("n_docs"), col("n_chars"), col("n_bytes"),
          col("n_ws_tokens"), col("n_bpeish"),
          round(col("n_chars").cast("double") / col("n_bpeish"), 4)
            .as("chars_per_token"),
          round(col("n_bytes").cast("double") / col("n_bpeish"), 4)
            .as("bytes_per_token"))
        .orderBy("lang")),

    // Model-based quality classifier — the fastText-shaped step up from
    // t_quality_filter's hard thresholds: a fixed-weight logistic model
    // over the three t_quality_score features (stopword density up,
    // punctuation density down, token-length deviation from 5 chars
    // penalized quadratically), scored per doc and thresholded at 0.5.
    // The FEATURES are rounded to 4 dp first (the t_quality_score
    // contract), so the linear term is per-row fixed-order double
    // arithmetic and the sigmoid needs only the final 6-dp round — the
    // e_survival_km exp discipline. Weights are literals (a shipped
    // model, not a training pass); narrow map + one bounded groupBy.
    "c_quality_classifier" -> ((s, d) => {
      val txt = col("text")
      val toks = Text.tokens(lower(txt))
      val nTok = size(toks)
      val stopCnt = size(filter(toks, w => w.isInCollection(Text.stopwords)))
      t(s, d, "documents")
        .select(col("lang"),
          round((length(txt) - length(regexp_replace(txt, "[.,!?;:]", "")))
            .cast("double") / nullif(length(txt), lit(0)), 4).as("punct_ratio"),
          round(stopCnt.cast("double") / nTok, 4).as("stop_ratio"),
          round(length(regexp_replace(txt, Text.wsRe, "")).cast("double") / nTok, 4)
            .as("avg_tok_len"))
        .withColumn("lin",
          lit(-0.5) + lit(6.0) * col("stop_ratio") - lit(4.0) * col("punct_ratio")
            - lit(0.25) * (col("avg_tok_len") - lit(5.0)) * (col("avg_tok_len") - lit(5.0)))
        .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-col("lin"))), 6))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("score"), 6).as("avg_score"),
          sum(when(col("score") >= 0.5, 1L).otherwise(0L)).cast("bigint").as("n_keep"))
        .select(col("lang"), col("n_docs"), col("avg_score"), col("n_keep"),
          round(col("n_keep") / col("n_docs"), 4).as("keep_share"))
        .orderBy("lang")
    }),

    // Hashing-trick n-gram logistic scorer — the VOCAB-FREE upgrade over
    // c_quality_classifier's three hand features: a fastText-shaped
    // linear model over hashed bag-of-{1,2}-grams (Weinberger et al.
    // 2009). Every word and word-bigram hashes into one of 1024 buckets
    // (md5-48 % 1024 — no vocabulary table, so the model is O(buckets)
    // regardless of corpus size; THE property that lets a linear filter
    // ride along a 100 TB scan with zero joins); bucket weights are a
    // deterministic shipped model (md5-48 of "w|<bucket>" % 2001 − 1000 —
    // integer weights standing in for trained ones; swapping in real
    // weights is a literal-table change, the plan is identical). The
    // per-doc score is sigmoid(8·Σw / (1000·n_feats)): Σw is an exact
    // BIGINT sum — order-INdependent, unlike a double dot product — so
    // the only cross-engine float boundary is one division + exp, handled
    // by the 6-dp round; per-doc scores are then carried as exact ppm
    // INTEGERS so the per-lang average is an exact integer sum divided
    // once (no order-dependent double accumulation across millions of
    // docs — the q1_agg integer-cent discipline applied to model scores).
    // Plan: narrow map → explode (uni+bi grams stay in their doc's
    // partition) → one partially-aggregated groupBy(doc) → one bounded
    // groupBy(lang). No UDFs, no joins, no windows.
    "c_hashed_ngram_lr" -> ((s, d) => {
      val toks = filter(Text.tokens(lower(col("text"))), w => length(w) > lit(0))
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), toks.as("sp"))
        .filter(size(col("sp")) >= 1)
      val uni = base.select(col("doc_id"), col("lang"), explode(col("sp")).as("f"))
      val bi = base.filter(size(col("sp")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(0, size(sp) - 2), i -> concat(sp[i], ' ', sp[i+1]))"))
          .as("f"))
      val bucket = pmod(
        conv(substring(md5(col("f")), 1, 12), 16, 10).cast("bigint"), lit(1024L))
      val w = conv(substring(md5(concat(lit("w|"), col("bucket").cast("string"))),
        1, 12), 16, 10).cast("bigint") % 2001L - 1000L
      val perDoc = uni.unionByName(bi)
        .select(col("doc_id"), col("lang"), bucket.as("bucket"))
        .select(col("doc_id"), col("lang"), w.as("w"))
        .groupBy("doc_id", "lang")
        .agg(sum("w").as("sw"), count(lit(1)).as("nf"))
      val score = round(lit(1.0) / (lit(1.0) +
        exp(-((lit(8.0) * col("sw")) / (lit(1000.0) * col("nf"))))), 6)
      perDoc.select(col("lang"),
          round(score * lit(1000000.0)).cast("bigint").as("ppm"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round((sum("ppm").cast("double") / count(lit(1))) / lit(1000000.0), 6)
            .as("avg_score"),
          sum(when(col("ppm") >= 500000L, 1L).otherwise(0L)).cast("bigint")
            .as("n_keep"))
        .select(col("lang"), col("n_docs"), col("avg_score"), col("n_keep"),
          round(col("n_keep") / col("n_docs"), 4).as("keep_share"))
        .orderBy("lang")
    }),

    // Corpus novelty decay — for each ingestion decile (by doc_id, the
    // arrival order), what fraction of a document's distinct word
    // trigrams was NEVER seen in any earlier document? The curve every
    // crawl operator watches: when marginal novelty flattens, more of the
    // same source stops buying new information. First-occurrence is ONE
    // vocab-keyed aggregate (min doc_id per trigram) joined back UNHINTED
    // (the trigram vocabulary grows with the corpus — Heaps' law — so
    // the planner must stay free to shuffle; AQE broadcasts at test SF);
    // deciles come from integer arithmetic against the max id, never an
    // ntile window over all documents.
    "c_ngram_novelty" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val grams = t(s, d, "documents")
        .select(col("doc_id"), Text.tokens(lower(col("text"))).as("sp"))
        .filter(size(col("sp")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(sp) - 3), i -> concat(sp[i], ' ', sp[i+1], ' ', sp[i+2]))"))
          .as("g"))
        .distinct()
      // first-occurrence via ONE trigram-keyed window min (r20, guide
      // §2.4: the former groupBy(g) + join back re-shuffled the gram
      // stream a second time and re-executed its distinct subtree as the
      // join's other input; the window computes min(doc_id) over the
      // same vocabulary-keyed partitioning in the single pass)
      val nov = grams.withColumn("first_doc",
          min("doc_id").over(Window.partitionBy("g")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"),
          (col("n_novel") / col("n_grams")).as("novelty"))
      val mx = nov.agg(max("doc_id").as("mx"))
      nov.crossJoin(broadcast(mx))
        .select(expr("(doc_id * 10) div (mx + 1)").as("decile"),
          col("novelty"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("novelty"), 6).as("avg_novelty"))
        .orderBy("decile")
    }),

    // Filter-agreement matrix — the governance view every curation stack
    // needs: when three independent keep/drop gates (Gopher-style
    // repetition caps, the length/punct/stopword composite, and a
    // duplicate-word ceiling) disagree, which combinations dominate?
    // Each gate reuses its production formula verbatim (gopher on raw
    // tokens, quality on lowered tokens — the per-gate tokenization
    // contracts differ and are preserved). One data-sized pass + the
    // per-doc top-word aggregate; the output is the 2³-combination
    // census with shares from a window over ≤8 bounded rows.
    "c_filter_agreement" -> ((s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"), col("text"),
          tokens(col("text")).as("spr"),
          tokens(lower(col("text"))).as("spl"))
      // top_cnt is the native per-row TopTokenCount (r20) — the former
      // explode → two groupBys → join re-attached a per-row decision
      // through an exchange pair
      val flags = base.select(col("doc_id"), col("n_chars"),
        size(col("spr")).as("n_words"),
        size(col("spl")).as("n_tok"),
        ((length(col("text")) -
          length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("double") /
          nullif(length(col("text")), lit(0))).as("punct_ratio"),
        (size(filter(col("spl"), w => w.isInCollection(Text.stopwords)))
          .cast("double") / size(col("spl"))).as("stop_ratio"),
        (lit(1.0) - size(array_distinct(col("spr"))).cast("double") /
          size(col("spr"))).as("dup_frac"),
        graft.functions.GraftFunctions.topTokenCount(col("spr")).as("top_cnt"))
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      flags
        .select(
          (col("n_words") >= 20 &&
            col("top_cnt").cast("double") / col("n_words") <= 0.15)
            .as("pass_gopher"),
          (col("n_chars").between(100, 2000) && col("n_tok") >= 20 &&
            col("punct_ratio") <= 0.1 && col("stop_ratio") >= 0.01)
            .as("pass_quality"),
          (col("dup_frac") <= 0.3).as("pass_rep"))
        .groupBy("pass_gopher", "pass_quality", "pass_rep")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("share",
          round(col("n_docs") / sum("n_docs").over(wAll), 4))
        .orderBy("pass_gopher", "pass_quality", "pass_rep")
    }),

    // Per-DOMAIN frequency cap — C4/RefinedWeb-style domain balancing: a
    // single host must not dominate the mixture, so each source keeps at
    // most CAP = 15 documents, highest-quality first (n_chars as the
    // quality proxy, doc_id the deterministic tie-break), and the rest are
    // dropped. Output is the per-source ledger (seen / kept / dropped /
    // worst kept quality) for the 10 lexicographically-first sources — a
    // bounded, SF-stable head of the domain table.
    //
    // Scale shape: ONE window partitioned by source (the partition is a
    // domain's documents — bounded by the very cap policy this implements;
    // a mega-domain is exactly the skew AQE's skew-join/salting handles,
    // and the carried row is only (source, n_chars, doc_id)), then a
    // partial-agg'd groupBy; the ledger needs total counts, so the full
    // rank pass is irreducible (a per-key top-k heap would lose n_dropped).
    "c_source_cap" -> ((s, d) => {
      val cap = 15
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rk", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rk") <= cap, 1L).otherwise(0L)).cast("bigint")
            .as("n_kept"),
          sum(when(col("rk") <= cap, 0L).otherwise(1L)).cast("bigint")
            .as("n_dropped"),
          min(when(col("rk") <= cap, col("n_chars"))).as("min_kept_chars"))
        .orderBy("source").limit(10)
    })
  )

  val oracles: Map[String, String] = Map(
    "c_pii_redact" ->
      """WITH dirty AS (
        |  SELECT lang,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or call 555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) AS dirty
        |  FROM documents),
        |red AS (
        |  SELECT lang, dirty,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |        '\b\d{1,3}(\.\d{1,3}){3}\b', '[IP]', 'g'),
        |      '\b\d{3}-\d{4}\b', '[PHONE]', 'g') AS clean
        |  FROM dirty)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_email,
        |  CAST(sum(len(regexp_extract_all(dirty, '\b\d{1,3}(\.\d{1,3}){3}\b'))) AS BIGINT) AS n_ip,
        |  CAST(sum(len(regexp_extract_all(clean, '\b\d{3}-\d{4}\b'))) AS BIGINT) AS n_phone_left,
        |  CAST(sum(length(dirty) - length(clean)) AS BIGINT) AS chars_redacted
        |FROM red GROUP BY lang ORDER BY lang""".stripMargin,
    "c_html_strip" ->
      """WITH h AS (
        |  SELECT lang,
        |    '<html><body><p>' || text || '</p><br/><a href="https://ex.invalid/'
        |      || CAST(doc_id AS VARCHAR) || '">doc</a></body></html>' AS html
        |  FROM documents),
        |c AS (
        |  SELECT lang, html,
        |    trim(regexp_replace(regexp_replace(html, '<[^>]+>', ' ', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS clean
        |  FROM h)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(html)) AS BIGINT) AS html_chars,
        |  CAST(sum(length(clean)) AS BIGINT) AS clean_chars,
        |  round(avg(CAST(length(clean) AS DOUBLE) / length(html)), 4) AS avg_keep_ratio
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    "c_gopher_quality" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS sp
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, lang, len(sp) AS n_words, len(list_distinct(sp)) AS n_distinct
        |  FROM docs),
        |words AS (SELECT doc_id, unnest(sp) AS w FROM docs),
        |top AS (
        |  SELECT doc_id, max(c) AS top_cnt FROM
        |    (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w)
        |  GROUP BY doc_id),
        |j AS (
        |  SELECT b.lang, b.n_words,
        |    CAST(t.top_cnt AS DOUBLE) / b.n_words AS top_frac,
        |    CAST(b.n_distinct AS DOUBLE) / b.n_words AS distinct_frac,
        |    (b.n_words >= 20 AND CAST(t.top_cnt AS DOUBLE) / b.n_words <= 0.15) AS pass
        |  FROM base b JOIN top t USING (doc_id))
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  round(avg(top_frac), 4) AS avg_top_frac,
        |  round(avg(distinct_frac), 4) AS avg_distinct_frac
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin,
    "c_repetition" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS sp FROM documents),
        |b AS (
        |  SELECT doc_id, sp,
        |    list_transform(range(1, greatest(len(sp), 1)),
        |      i -> sp[CAST(i AS INT)] || ' ' || sp[CAST(i AS INT) + 1]) AS bi
        |  FROM d)
        |SELECT doc_id,
        |  CAST(len(sp) AS BIGINT) AS n_words,
        |  round(1.0 - CAST(len(list_distinct(sp)) AS DOUBLE) / len(sp), 4) AS dup_word_frac,
        |  CASE WHEN len(bi) >= 1
        |    THEN round(1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) / len(bi), 4)
        |    ELSE NULL END AS dup_bigram_frac
        |FROM b ORDER BY doc_id""".stripMargin,
    "c_contamination" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS sp
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, unnest(list_distinct(
        |    list_transform(range(1, greatest(len(sp) - 1, 1)),
        |      i -> sp[CAST(i AS INT)] || ' ' || sp[CAST(i AS INT) + 1] || ' ' || sp[CAST(i AS INT) + 2]))) AS gram
        |  FROM d WHERE len(sp) >= 3),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0),
        |cont AS (
        |  SELECT lang, count(*) AS contaminated FROM
        |    (SELECT DISTINCT doc_id, lang FROM g
        |     WHERE doc_id % 7 <> 0 AND gram IN (SELECT gram FROM bg))
        |  GROUP BY lang),
        |tot AS (
        |  SELECT lang, count(*) AS total_docs FROM documents
        |  WHERE doc_id % 7 <> 0 GROUP BY lang)
        |SELECT t.lang, t.total_docs,
        |  COALESCE(c.contaminated, 0) AS contaminated,
        |  round(CAST(COALESCE(c.contaminated, 0) AS DOUBLE) / t.total_docs, 4) AS frac
        |FROM tot t LEFT JOIN cont c USING (lang) ORDER BY lang""".stripMargin,
    "c_hash_sample" ->
      """SELECT lang, count(*) AS total,
        |  CAST(sum(CASE WHEN substr(md5(text), 1, 2) <= '19' THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |  round(CAST(sum(CASE WHEN substr(md5(text), 1, 2) <= '19' THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS rate
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "c_stratified_sample" ->
      """WITH k AS (
        |  SELECT lang,
        |    substr(md5(text), 1, 2) <= (CASE WHEN lang = 'en' THEN '0c' ELSE '33' END) AS keep
        |  FROM documents)
        |SELECT lang, count(*) AS total,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |  round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS rate
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    "c_pack_sequences" ->
      """WITH docs AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |cum AS (
        |  SELECT shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM docs),
        |bins AS (
        |  SELECT shard, (cum - n_tokens) // 512 AS bin,
        |    sum(n_tokens) AS bin_tokens, count(*) AS n_docs
        |  FROM cum GROUP BY shard, bin)
        |SELECT shard, count(*) AS n_bins,
        |  CAST(max(bin_tokens) AS BIGINT) AS max_bin_tokens,
        |  round(avg(bin_tokens), 2) AS avg_bin_tokens,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs
        |FROM bins GROUP BY shard ORDER BY shard""".stripMargin,
    "c_shard_assign" ->
      """SELECT substr(md5(text), 1, 1) AS shard, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents GROUP BY shard ORDER BY shard""".stripMargin,
    "c_chunk_windows" ->
      """WITH d AS (
        |  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len,
        |    CASE WHEN length(text) <= 200 THEN 1
        |         ELSE CAST(ceil((length(text) - 200) / 150.0) AS BIGINT) + 1
        |    END AS n_chunks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, len, unnest(range(0, n_chunks)) AS i
        |  FROM d),
        |k AS (
        |  SELECT doc_id, source, len, i * 150 AS start,
        |    least(200, len - i * 150) AS chunk_len
        |  FROM c)
        |SELECT source, count(DISTINCT doc_id) AS n_docs,
        |  count(*) AS n_chunks,
        |  CAST(sum(chunk_len) AS BIGINT) AS sum_chunk_chars,
        |  round(CAST(sum(chunk_len) -
        |        sum(CASE WHEN start = 0 THEN len ELSE 0 END) AS DOUBLE)
        |      / count(DISTINCT doc_id), 4) AS avg_overlap_chars
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
    // chr(101)||chr(769) = decomposed e+combining-acute, chr(233) = é
    "c_unicode_norm" ->
      """WITH dirty AS (
        |  SELECT lang, text || (CASE WHEN doc_id % 3 = 0 THEN ' caf' || chr(101) || chr(769)
        |                             WHEN doc_id % 3 = 1 THEN ' caf' || chr(233)
        |                             ELSE ' cafe' END) AS dirty
        |  FROM documents),
        |n AS (SELECT lang, dirty, nfc_normalize(dirty) AS nrm FROM dirty)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN nrm <> dirty THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(length(dirty)) AS BIGINT) AS chars_raw,
        |  CAST(sum(length(nrm)) AS BIGINT) AS chars_nfc
        |FROM n GROUP BY lang ORDER BY lang""".stripMargin,
    "c_lang_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |t AS (SELECT sum(n_docs) AS n_total FROM c),
        |w AS (SELECT lang, n_docs, n_total,
        |        round(sqrt(CAST(n_docs AS DOUBLE) / n_total), 9) AS w FROM c, t),
        |z AS (SELECT sum(w) AS z FROM w)
        |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
        |  round(w / z, 4) AS p_sample,
        |  round(w / z * n_total, 2) AS target_docs
        |FROM w, z ORDER BY lang""".stripMargin,
    // the bucket prefilter is hash-specific, but a one-hash Bloom has no
    // false negatives, so n_missed/pass are deterministic and n_exact is
    // the plain exact-contamination count
    "c_contam_bloom" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS sp
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, unnest(list_distinct(
        |    list_transform(range(1, greatest(len(sp) - 1, 1)),
        |      i -> sp[CAST(i AS INT)] || ' ' || sp[CAST(i AS INT) + 1] || ' ' || sp[CAST(i AS INT) + 2]))) AS gram
        |  FROM d WHERE len(sp) >= 3),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0)
        |SELECT lang, count(*) AS n_exact,
        |  CAST(0 AS BIGINT) AS n_missed, CAST(1 AS BOOLEAN) AS pass
        |FROM (SELECT DISTINCT doc_id, lang FROM g
        |      WHERE doc_id % 7 <> 0 AND gram IN (SELECT gram FROM bg))
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "c_line_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS sp
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    unnest(range(0, len(sp) // 10)) AS pos,
        |    unnest(list_transform(range(0, len(sp) // 10),
        |      i -> array_to_string(sp[(CAST(i AS INT) * 10 + 1):(CAST(i AS INT) * 10 + 10)], ' '))) AS chunk
        |  FROM d WHERE len(sp) >= 10),
        |r AS (
        |  SELECT lang, doc_id, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        |  FROM c)
        |SELECT lang, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  count(DISTINCT CASE WHEN rn > 1 THEN doc_id END) AS docs_affected,
        |  CAST(coalesce(sum(CASE WHEN rn > 1 THEN length(chunk) END), 0) AS BIGINT) AS chars_removed
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    "c_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT lang, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY n_tok DESC, doc_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
        |  FROM d)
        |SELECT lang, count(*) AS n_docs_kept,
        |  CAST(max(cum_tok) AS BIGINT) AS tokens_used,
        |  round(CAST(max(cum_tok) AS DOUBLE) / 3000 * 100, 2) AS util_pct
        |FROM c WHERE cum_tok <= 3000 GROUP BY lang ORDER BY lang""".stripMargin,
    "c_weighted_sample" ->
      """WITH p AS (
        |  SELECT doc_id, lang, n_chars,
        |    round(ln((CAST('0x' || substr(md5(text), 1, 12) AS BIGINT) + 1.0)
        |              / 281474976710656.0) / n_chars, 9) AS priority
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY priority DESC, doc_id) AS rk
        |  FROM p)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, n_chars
        |FROM r WHERE rk <= 10 ORDER BY lang, rk""".stripMargin,
    "c_url_canon" ->
      """WITH raw AS (
        |  SELECT doc_id, unnest([
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
        |      || '://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM'
        |      || (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END)
        |      || '/a/' || CAST(doc_id % 11 AS VARCHAR)
        |      || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
        |      || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&id=' || CAST(doc_id % 5 AS VARCHAR)
        |               WHEN doc_id % 5 = 0 THEN '?id=' || CAST(doc_id % 5 AS VARCHAR)
        |               ELSE '' END)
        |      || (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END),
        |    (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
        |      || '://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/a/'
        |      || CAST(doc_id % 11 AS VARCHAR)
        |      || (CASE WHEN doc_id % 2 = 0 OR doc_id % 5 = 0
        |               THEN '?id=' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END)
        |      || (CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END)
        |  ]) AS url FROM documents),
        |parts AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^([A-Za-z]+)://', 1)) AS sch,
        |    regexp_replace(
        |      lower(regexp_extract(
        |        regexp_replace(regexp_replace(url, '#.*$', ''), '^[A-Za-z]+://', ''),
        |        '^([^/?]+)', 1)),
        |      '^www\.', '') AS hostraw,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(regexp_replace(url, '#.*$', ''), '^[A-Za-z]+://', ''),
        |        '^[^/?]+', ''),
        |      'utm_[A-Za-z]+=[^&]*&?', '', 'g'),
        |      '[?&]$', ''), '/(\?|$)', '\1', 'g') AS tail
        |  FROM raw),
        |c AS (
        |  SELECT doc_id, url,
        |    sch || '://'
        |      || (CASE WHEN sch = 'http' THEN regexp_replace(hostraw, ':80$', '')
        |               WHEN sch = 'https' THEN regexp_replace(hostraw, ':443$', '')
        |               ELSE hostraw END)
        |      || tail AS canon
        |  FROM parts)
        |SELECT canon, count(*) AS n_refs,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM c GROUP BY canon ORDER BY canon""".stripMargin,
    "c_domain_blocklist" ->
      """WITH docs AS (
        |  SELECT doc_id, lang,
        |    'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS domain
        |  FROM documents),
        |bl AS (SELECT unnest(['site1.example.com', 'site3.example.com',
        |                      'site5.example.com']) AS domain),
        |kept AS (SELECT lang, count(*) AS n_kept FROM docs
        |         WHERE domain NOT IN (SELECT domain FROM bl) GROUP BY lang),
        |tot AS (SELECT lang, count(*) AS n_docs FROM docs GROUP BY lang)
        |SELECT lang, n_docs,
        |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(n_docs - coalesce(n_kept, 0) AS BIGINT) AS n_blocked
        |FROM tot LEFT JOIN kept USING (lang) ORDER BY lang""".stripMargin,
    "c_dp_count" ->
      """WITH g AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |s AS (SELECT lang, n,
        |  (CAST('0x' || substr(md5(lang || '|dp-seed'), 1, 12) AS BIGINT) + 0.5)
        |    / 281474976710656.0 AS u
        |  FROM g)
        |SELECT lang,
        |  round(n + (-1.0) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 3) AS noisy_n,
        |  CAST(1.0 AS DOUBLE) AS epsilon
        |FROM s ORDER BY lang""".stripMargin,
    "c_incr_dedup" ->
      s"""WITH snap AS (
        |  SELECT md5(${normTextSql("text")}) AS fp
        |  FROM documents),
        |batch AS (
        |  SELECT lang,
        |    md5(${normTextSql("'  ' || regexp_replace(text, ' ', '   ', 'g')")}) AS fp
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT lang,
        |    md5(${normTextSql("text || ' updated-' || CAST(doc_id AS VARCHAR)")}) AS fp
        |  FROM documents WHERE doc_id % 5 = 1),
        |fresh AS (
        |  SELECT lang, count(*) AS n_fresh FROM batch
        |  WHERE fp NOT IN (SELECT fp FROM snap) GROUP BY lang),
        |tot AS (SELECT lang, count(*) AS n_batch FROM batch GROUP BY lang)
        |SELECT lang, n_batch,
        |  CAST(coalesce(n_fresh, 0) AS BIGINT) AS n_fresh,
        |  CAST(n_batch - coalesce(n_fresh, 0) AS BIGINT) AS n_deduped
        |FROM tot LEFT JOIN fresh USING (lang) ORDER BY lang""".stripMargin,
    // t_doc_logprob's oracle as a CTE + tercile cuts via quantile_cont
    "c_perplexity_buckets" ->
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
        |          FROM pair JOIN uni USING (w1)),
        |lpd AS (
        |  SELECT doc_id, round(avg(lp), 6) AS avg_logprob
        |  FROM bi JOIN model USING (w1, w2) GROUP BY doc_id),
        |cuts AS (SELECT quantile_cont(avg_logprob, [1.0/3, 2.0/3]) AS c FROM lpd),
        |b AS (
        |  SELECT lang,
        |    CASE WHEN avg_logprob >= c[2] THEN 'head'
        |         WHEN avg_logprob >= c[1] THEN 'middle'
        |         ELSE 'tail' END AS bucket,
        |    avg_logprob
        |  FROM lpd JOIN documents USING (doc_id) CROSS JOIN cuts)
        |SELECT lang, bucket, count(*) AS n_docs,
        |  round(avg(avg_logprob), 4) AS avg_lp
        |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    "c_dedup_keep_best" ->
      s"""WITH dups AS (${dupsSql("text, lang, n_chars")}),
        |f AS (
        |  SELECT lang, n_chars, doc_id,
        |    md5(${normTextSql("text")}) AS fp
        |  FROM dups),
        |r AS (SELECT lang, n_chars,
        |  row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM f)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(CASE WHEN rn > 1 THEN n_chars END), 0) AS BIGINT) AS chars_dropped
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    "c_leakage_split" ->
      s"""WITH dups AS (${dupsSql("text")}),
        |f AS (
        |  SELECT doc_id,
        |    md5(${normTextSql("text")}) AS fp
        |  FROM dups),
        |a AS (
        |  SELECT 'by_fingerprint' AS strategy, fp,
        |    CASE WHEN substr(md5(fp), 1, 2) < 'cc' THEN 'train'
        |         WHEN substr(md5(fp), 1, 2) < 'e6' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM f
        |  UNION ALL
        |  SELECT 'by_doc_id' AS strategy, fp,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM f),
        |lk AS (
        |  SELECT strategy,
        |    CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked_fps
        |  FROM (SELECT strategy, fp, count(DISTINCT split) AS ns
        |        FROM a GROUP BY strategy, fp)
        |  GROUP BY strategy)
        |SELECT strategy, count(*) AS n_docs,
        |  count(DISTINCT fp) AS n_fps,
        |  count(DISTINCT split) AS n_splits,
        |  n_leaked_fps
        |FROM a JOIN lk USING (strategy)
        |GROUP BY strategy, n_leaked_fps ORDER BY strategy""".stripMargin,
    // identical rate arithmetic (literals written as the same expressions,
    // not pre-folded constants) and the same 2^48 exact-uniform draw
    "c_mix_schedule" ->
      """WITH docs AS (
        |  SELECT lang, text,
        |    CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |avail AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS avail_tokens
        |          FROM docs GROUP BY lang),
        |tot AS (SELECT CAST(sum(avail_tokens) AS DOUBLE) AS total,
        |               CAST(count(*) AS DOUBLE) AS n_langs FROM avail),
        |rates AS (
        |  SELECT lang, avail_tokens,
        |    round(CASE WHEN lang = 'en' THEN CAST(0.4 AS DOUBLE)
        |          ELSE (1.0 - 0.4) / (n_langs - 1.0) END, 6) AS target_share,
        |    least(CAST(1.0 AS DOUBLE),
        |      (0.5 * total * CASE WHEN lang = 'en' THEN CAST(0.4 AS DOUBLE)
        |                     ELSE (1.0 - 0.4) / (n_langs - 1.0) END) / avail_tokens) AS rate
        |  FROM avail CROSS JOIN tot),
        |k AS (
        |  SELECT d.lang, avail_tokens, target_share, rate, n_tok,
        |    ((CAST('0x' || substr(md5(text), 1, 12) AS BIGINT) + 1.0)
        |     / 281474976710656.0) < rate AS keep
        |  FROM docs d JOIN rates USING (lang)),
        |g AS (
        |  SELECT lang, avail_tokens, target_share,
        |    round(max(rate), 6) AS rate6,
        |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    CAST(coalesce(sum(CASE WHEN keep THEN n_tok END), 0) AS BIGINT) AS kept_tokens
        |  FROM k GROUP BY 1, 2, 3)
        |SELECT lang, avail_tokens, target_share, rate6, n_kept, kept_tokens,
        |  round(kept_tokens / sum(kept_tokens) OVER (), 6) AS achieved_share
        |FROM g ORDER BY lang""".stripMargin,
    "c_k_anonymity" ->
      """WITH c AS (
        |  SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2)
        |SELECT count(*) AS n_classes,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0) AS BIGINT) AS n_suppressed,
        |  CAST(coalesce(min(CASE WHEN n >= 5 THEN n END), 0) AS BIGINT) AS achieved_k
        |FROM c""".stripMargin,
    // same two LMs; the per-doc sum is DECIMAL over 9-dp log ratios on
    // both engines, so token aggregation order cannot shift the hash
    "c_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok, count(*) AS cg,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
        |  FROM toks GROUP BY tok),
        |tot AS (
        |  SELECT CAST(sum(cg) AS DOUBLE) AS ng, CAST(sum(ct) AS DOUBLE) AS nt,
        |    CAST(count(*) AS DOUBLE) AS v
        |  FROM vocab),
        |lr AS (
        |  SELECT tok,
        |    CAST(round(ln(((ct + 1) / (nt + v)) / ((cg + 1) / (ng + v))), 9)
        |         AS DECIMAL(28,9)) AS lr9
        |  FROM vocab, tot),
        |per_doc AS (
        |  SELECT lang, round(CAST(sum(lr9) AS DOUBLE) / count(*), 6) AS nw
        |  FROM toks JOIN lr USING (tok) GROUP BY doc_id, lang)
        |SELECT lang, count(*) AS n_docs, round(avg(nw), 6) AS avg_nw,
        |  CAST(sum(CASE WHEN nw > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  round(sum(CASE WHEN nw > 0 THEN 1 ELSE 0 END)
        |        / CAST(count(*) AS DOUBLE), 4) AS pos_share
        |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin,
    // chr() literals dodge any encoding ambiguity in the SQL transport:
    // 65533 = U+FFFD replacement, 195 = 'Ã' mojibake marker, 160 = NBSP
    "c_encoding_qa" ->
      """WITH f AS (
        |  SELECT lang,
        |    contains(text, chr(65533)) AS has_rep,
        |    regexp_matches(text, '[\x00-\x08\x0e-\x1f]') AS has_ctrl,
        |    contains(text, chr(195)) AS has_moji,
        |    contains(text, chr(160)) AS has_nbsp
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN has_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_replacement,
        |  CAST(sum(CASE WHEN has_ctrl THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
        |  CAST(sum(CASE WHEN has_moji THEN 1 ELSE 0 END) AS BIGINT) AS n_mojibake,
        |  CAST(sum(CASE WHEN has_nbsp THEN 1 ELSE 0 END) AS BIGINT) AS n_nbsp,
        |  CAST(sum(CASE WHEN NOT (has_rep OR has_ctrl OR has_moji OR has_nbsp)
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
        |  round(sum(CASE WHEN NOT (has_rep OR has_ctrl OR has_moji OR has_nbsp)
        |        THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4) AS clean_share
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    "c_tokenizer_fertility" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
        |  CAST(sum(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'))) AS BIGINT)
        |    AS n_ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '\w+|[^\w \t\n\x0B\f\r]'))) AS BIGINT)
        |    AS n_bpeish,
        |  round(CAST(sum(length(text)) AS DOUBLE)
        |    / sum(len(regexp_extract_all(text, '\w+|[^\w \t\n\x0B\f\r]'))), 4)
        |    AS chars_per_token,
        |  round(CAST(sum(strlen(text)) AS DOUBLE)
        |    / sum(len(regexp_extract_all(text, '\w+|[^\w \t\n\x0B\f\r]'))), 4)
        |    AS bytes_per_token
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // identical 4-dp features (the t_quality_score oracle expressions),
    // identical literal weights; sigmoid rounded to 6 dp on both engines
    "c_quality_classifier" ->
      """WITH f AS (
        |  SELECT lang,
        |    round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / NULLIF(length(text), 0), 4) AS punct_ratio,
        |    round(CAST(len(list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'),
        |          w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
        |          / len(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+')), 4) AS stop_ratio,
        |    round(CAST(length(regexp_replace(text, '[ \t\n\x0B\f\r]+', '', 'g')) AS DOUBLE)
        |          / len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')), 4) AS avg_tok_len
        |  FROM documents),
        |sc AS (
        |  SELECT lang,
        |    round(1.0 / (1.0 + exp(-(-0.5 + 6.0 * stop_ratio - 4.0 * punct_ratio
        |      - 0.25 * (avg_tok_len - 5.0) * (avg_tok_len - 5.0)))), 6) AS score
        |  FROM f)
        |SELECT lang, count(*) AS n_docs, round(avg(score), 6) AS avg_score,
        |  CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  round(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END)
        |        / CAST(count(*) AS DOUBLE), 4) AS keep_share
        |FROM sc GROUP BY lang ORDER BY lang""".stripMargin,
    // same hashed features, same integer weight draw, same exact-integer
    // Σw and ppm accumulation; the only float ops are the one division,
    // exp, and the 6-dp round — identical IEEE sequences both engines
    "c_hashed_ngram_lr" ->
      """WITH base AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'),
        |                x -> len(x) > 0) AS sp
        |  FROM documents),
        |b2 AS (SELECT doc_id, lang, sp FROM base WHERE len(sp) >= 1),
        |uni AS (SELECT doc_id, lang, unnest(sp) AS f FROM b2),
        |bi AS (SELECT doc_id, lang,
        |         unnest(list_transform(range(1, len(sp)),
        |           i -> sp[CAST(i AS INT)] || ' ' || sp[CAST(i AS INT) + 1])) AS f
        |       FROM b2 WHERE len(sp) >= 2),
        |feats AS (SELECT doc_id, lang, f FROM uni
        |          UNION ALL SELECT doc_id, lang, f FROM bi),
        |fw AS (SELECT doc_id, lang,
        |         CAST('0x' || substr(md5('w|' || CAST(
        |           CAST('0x' || substr(md5(f), 1, 12) AS BIGINT) % 1024
        |           AS VARCHAR)), 1, 12) AS BIGINT) % 2001 - 1000 AS w
        |       FROM feats),
        |pd AS (SELECT doc_id, lang, CAST(sum(w) AS BIGINT) AS sw, count(*) AS nf
        |       FROM fw GROUP BY doc_id, lang),
        |sc AS (SELECT lang,
        |         CAST(round(round(1.0 / (1.0 + exp(-((8.0 * sw) / (1000.0 * nf)))), 6)
        |           * 1000000.0) AS BIGINT) AS ppm
        |       FROM pd)
        |SELECT lang, count(*) AS n_docs,
        |  round((CAST(sum(ppm) AS DOUBLE) / count(*)) / 1000000.0, 6) AS avg_score,
        |  CAST(sum(CASE WHEN ppm >= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  round(sum(CASE WHEN ppm >= 500000 THEN 1 ELSE 0 END)
        |        / CAST(count(*) AS DOUBLE), 4) AS keep_share
        |FROM sc GROUP BY lang ORDER BY lang""".stripMargin,
    // same trigrams, same integer decile arithmetic
    "c_ngram_novelty" ->
      """WITH docs AS MATERIALIZED (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS sp
        |  FROM documents),
        |g AS MATERIALIZED (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(sp) - 1, 1)),
        |      i -> sp[CAST(i AS INT)] || ' ' || sp[CAST(i AS INT) + 1]
        |           || ' ' || sp[CAST(i AS INT) + 2])) AS g
        |  FROM docs WHERE len(sp) >= 3),
        |f AS MATERIALIZED (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g),
        |nov AS MATERIALIZED (
        |  SELECT doc_id, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_novel
        |  FROM g JOIN f USING (g) GROUP BY doc_id),
        |mx AS (SELECT max(doc_id) AS mx FROM nov)
        |SELECT (doc_id * 10) // (mx + 1) AS decile, count(*) AS n_docs,
        |  round(avg(CAST(n_novel AS DOUBLE) / n_grams), 6) AS avg_novelty
        |FROM nov CROSS JOIN mx
        |GROUP BY 1 ORDER BY decile""".stripMargin,
    // each gate's formula copied verbatim from its own oracle (gopher on
    // raw tokens, quality on lowered tokens)
    "c_filter_agreement" ->
      """WITH docs AS MATERIALIZED (
        |  SELECT doc_id, n_chars, text,
        |    string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS spr,
        |    string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS spl
        |  FROM documents),
        |flags AS MATERIALIZED (
        |  SELECT doc_id, n_chars, len(spr) AS n_words, len(spl) AS n_tok,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
        |      AS DOUBLE) / NULLIF(length(text), 0) AS punct_ratio,
        |    CAST(len(list_filter(spl,
        |      w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
        |      / len(spl) AS stop_ratio,
        |    1.0 - CAST(len(list_distinct(spr)) AS DOUBLE) / len(spr) AS dup_frac
        |  FROM docs),
        |top AS MATERIALIZED (
        |  SELECT doc_id, max(c) AS top_cnt FROM
        |    (SELECT doc_id, w, count(*) AS c FROM
        |      (SELECT doc_id, unnest(spr) AS w FROM docs)
        |     GROUP BY doc_id, w)
        |  GROUP BY doc_id),
        |g AS (
        |  SELECT
        |    (n_words >= 20 AND CAST(top_cnt AS DOUBLE) / n_words <= 0.15)
        |      AS pass_gopher,
        |    (n_chars BETWEEN 100 AND 2000 AND n_tok >= 20
        |      AND punct_ratio <= 0.1 AND stop_ratio >= 0.01) AS pass_quality,
        |    (dup_frac <= 0.3) AS pass_rep
        |  FROM flags JOIN top USING (doc_id))
        |SELECT pass_gopher, pass_quality, pass_rep, count(*) AS n_docs,
        |  round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 4) AS share
        |FROM g GROUP BY 1, 2, 3
        |ORDER BY pass_gopher, pass_quality, pass_rep""".stripMargin,
    "c_source_cap" ->
      """WITH r AS (
        |  SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents),
        |g AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN rk <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    CAST(sum(CASE WHEN rk <= 15 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |    min(CASE WHEN rk <= 15 THEN n_chars END) AS min_kept_chars
        |  FROM r GROUP BY source)
        |SELECT * FROM g ORDER BY source LIMIT 10""".stripMargin
  )
}
