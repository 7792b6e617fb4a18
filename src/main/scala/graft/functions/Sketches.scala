package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass document-sketch expressions.
  *
  * The DataFrame formulation of MinHash (explode k-shingles → hash per
  * shingle → 16 min-aggregates per doc) materializes one ROW per shingle:
  * ~600 rows and a 16-column hash-aggregate entry per average document.
  * These expressions compute the same sketches in one tight loop per
  * document — no explode, no aggregation, no shuffle — which turns the
  * signature stage of near-dup pipelines into a narrow codegen'd map.
  * Shingle hashing walks the UTF-8 bytes in place (char→byte offsets
  * computed once per document, one digest per window).
  *
  * The whole family is DuckDB-replayable by construction (the
  * `winnow_fps`/`gram_fps` precedent): every base draw is the first 48
  * bits of md5 — `conv(substring(md5(gram), 1, 12), 16, 10)` in SQL — and
  * every per-member mix is plain 64-bit integer arithmetic (XOR with
  * seed-derived splitmix64 constants), so the LSH pair/bucket listings
  * themselves hash-check against the SQL oracle, not just their recall
  * companions. Identical text ⇒ identical signatures, the property the
  * recall oracles (`d_minhash_recall` / `d_simhash_recall`) additionally
  * pin independent of the family.
  */
object Sketches {

  /** Seed-derived XOR mixing constants of the minhash family (splitmix64
    * finalizer draws, masked to 48 bits so mixed members stay in the
    * md5-48 domain). Member j's value for a shingle with base draw h is
    * `h ^ c(j)`; min over shingles selects a DIFFERENT pseudo-random
    * argmin shingle per member, which is what makes the estimator work —
    * an order-preserving mix (e.g. small-multiplier affine) would make
    * every member pick the same argmin shingle and collapse est_sim to
    * 0/1. Exposed so the DuckDB oracle SQL interpolates the same
    * constants as literals.
    *
    * KNOWN BIAS (the price of SQL replayability): an XOR family is NOT
    * min-wise independent — members' argmins correlate through the high
    * bits of the shared md5-48 base draws (XOR permutes within, but never
    * across, high-bit strata), so est_sim is a mildly biased Jaccard
    * estimator for PARTIAL-overlap pairs, statistically weaker than a
    * per-member re-hash (e.g. xxhash64(h, seed_j), the pre-round-11
    * family). Exact duplicates still get identical signatures, so recall
    * of true dups and the 1.0-similarity band are unaffected; only
    * borderline pairs near the 0.7 threshold see a weaker estimator. A
    * multiply-xor-shift per member would be closer to pairwise-independent
    * while staying replayable, at ~3× the SQL expression complexity per
    * member — revisit if near-threshold precision ever becomes the gate.
    */
  def minhashXorConstants(n: Int, seed: Long): Array[Long] =
    Array.tabulate(n) { j =>
      var z = seed + (j + 1) * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      (z ^ (z >>> 31)) & 0xFFFFFFFFFFFFL
    }

  /** All n minhashes of the k-char shingles of `text` in one pass:
    * md5-48 per shingle (the shared SQL-replayable gram draw), then per
    * member j the min over shingles of `h ^ c(j)`. At least one shingle
    * is always produced (a short text hashes whole), matching
    * `Dedup.shingles`' `greatest(length - k + 1, 1)` contract and the SQL
    * form's `substr(text, i+1, k)` end-clamping. The constants are
    * recomputed per row — n splitmix rounds, noise next to the per-gram
    * digests.
    */
  def minhash(text: UTF8String, k: Int, n: Int, seed: Long): ArrayData = {
    val numChars = text.numChars()
    val numShingles = math.max(numChars - k + 1, 1)
    val gh = md5GramHashes(text, k, numChars, numShingles)
    val cs = minhashXorConstants(n, seed)
    val mins = Array.fill(n)(Long.MaxValue)
    var i = 0
    while (i < numShingles) {
      val h = gh(i)
      var j = 0
      while (j < n) {
        val m = h ^ cs(j)
        if (m < mins(j)) mins(j) = m
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  // one MessageDigest per executor thread — getInstance per row would be
  // garbage; reset() makes reuse safe
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003) in one pass:
    * md5 each char-k-gram (first 48 bits, matching the SQL draw
    * `conv(substring(md5(substring(nt, i+1, k)), 1, 12), 16, 10)` exactly —
    * 12 hex chars = the digest's first 6 bytes), slide a w-window min, and
    * emit distinct mins in first-occurrence order (the `array_distinct`
    * contract). The HOF formulation materializes a boxed Long array and
    * interprets four lambda frames per window; this is the same draw
    * sequence in one tight primitive loop. Texts too short for a single
    * window (numChars < k + w − 1) return an empty array.
    */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val numChars = text.numChars()
    val numGrams = numChars - k + 1
    if (numGrams < w) return new GenericArrayData(Array.empty[Long])
    val gh = md5GramHashes(text, k, numChars, numGrams)
    val seen = new java.util.HashSet[Long]()
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var j = 0
    val numWin = numGrams - w + 1
    while (j < numWin) {
      var m = gh(j)
      var t = 1
      while (t < w) {
        if (gh(j + t) < m) m = gh(j + t)
        t += 1
      }
      if (seen.add(m)) out += m
      j += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** The shared 48-bit md5 gram draw: per char-k-gram, the first 6 digest
    * bytes big-endian — bit-identical to the SQL form
    * `conv(substring(md5(substring(nt, i+1, k)), 1, 12), 16, 10)` (12 hex
    * chars = 6 bytes; conv of ≤48 bits never overflows a signed long).
    * One UTF-8 offset scan, then one digest per gram. Gram ends are
    * clamped to the text (SQL `substr` semantics) so the minhash
    * whole-text fallback for sub-k inputs draws the same value as
    * `md5(substr(text, 1, k))`.
    */
  private def md5GramHashes(text: UTF8String, k: Int,
      numChars: Int, numGrams: Int): Array[Long] = {
    val bytes = text.getBytes
    val off = charOffsets(bytes, numChars)
    val md = md5Local.get()
    val d = digestBuf.get()
    val gh = new Array[Long](numGrams)
    var i = 0
    while (i < numGrams) {
      gh(i) = md5Bits48(md, d, bytes, off(i), off(math.min(i + k, numChars)) - off(i))
      i += 1
    }
    gh
  }

  /** The byte offset of each of the `numChars` chars of UTF-8 `bytes`,
    * then `bytes.length` at index `numChars`.
    */
  private def charOffsets(bytes: Array[Byte], numChars: Int): Array[Int] = {
    val off = new Array[Int](numChars + 1)
    var c = 0
    var b = 0
    while (c < numChars) {
      off(c) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      c += 1
    }
    off(numChars) = bytes.length
    off
  }

  /** The md5-48 draw of `bytes[start, start + len)`: the first 6 digest
    * bytes big-endian. The digest goes into the reused buffer `d` —
    * `digest()` would allocate a fresh 16-byte array PER GRAM (one per
    * corpus character in span dedup).
    */
  private def md5Bits48(md: java.security.MessageDigest, d: Array[Byte],
      bytes: Array[Byte], start: Int, len: Int): Long = {
    md.reset()
    md.update(bytes, start, len)
    md.digest(d, 0, 16)
    ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
      ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
      ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
  }

  private val digestBuf: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](16))

  /** ALL k-gram hashes of `text` in position order (array index = 0-based
    * gram start): the winnow draw without the windowed-min — built for
    * span-level dedup, where every gram position matters. `posexplode` of
    * the result replaces the `sequence(0, len-k)`-explode + per-row
    * md5/conv with one codegen'd pass that never re-carries the full text
    * into the exploded projection. Texts shorter than k chars yield an
    * empty array (callers pre-filter `length >= k` anyway).
    */
  def gramFps(text: UTF8String, k: Int): ArrayData = {
    val numChars = text.numChars()
    val numGrams = numChars - k + 1
    if (numGrams <= 0) return new GenericArrayData(Array.empty[Long])
    new GenericArrayData(md5GramHashes(text, k, numChars, numGrams))
  }

  /** All char-n-grams of `text` in order — the SQL draw
    * `transform(sequence(1, length(p) - (n-1)), i -> substring(p, i, n))`
    * (CHAR windows, so multi-byte code points never split) without the
    * interpreted HOF lambda frames: one offset scan, then zero-copy
    * UTF8String slices. Texts shorter than n chars yield an empty array,
    * matching the SQL form's empty sequence.
    */
  def charNgrams(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    val numChars = text.numChars()
    val numGrams = numChars - n + 1
    if (numGrams <= 0) return new GenericArrayData(Array.empty[Any])
    val off = charOffsets(bytes, numChars)
    val out = new Array[Any](numGrams)
    var i = 0
    while (i < numGrams) {
      out(i) = UTF8String.fromBytes(bytes, off(i), off(i + n) - off(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 48-bit SimHash over space-separated tokens of (already-normalized)
    * `text`: per token, the md5-48 draw of its bytes (the shared
    * SQL-replayable form `conv(substring(md5(tok), 1, 12), 16, 10)`); bit
    * b of the signature is set when the +1/−1 sum of token-hash bit b over
    * all tokens is positive. 48 bits (not 64) so the ENTIRE signature is
    * one md5 prefix per token — replayable in the oracle with a single
    * conv, no second digest. Empty-token runs are skipped, so
    * leading/trailing/repeated spaces are harmless even on un-collapsed
    * input.
    */
  val SimHashBits = 48

  def simhash(text: UTF8String): Long = {
    val bytes = text.getBytes
    val counts = new Array[Int](SimHashBits)
    val md = md5Local.get()
    val d = digestBuf.get()
    var start = 0
    var i = 0
    val len = bytes.length
    while (i <= len) {
      if (i == len || bytes(i) == ' '.toByte) {
        if (i > start) {
          val h = md5Bits48(md, d, bytes, start, i - start)
          var bit = 0
          while (bit < SimHashBits) {
            if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
            bit += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var bit = 0
    while (bit < SimHashBits) {
      if (counts(bit) > 0) sig |= (1L << bit)
      bit += 1
    }
    sig
  }
}

/** The five sketch expressions over one string column: they share the
  * input check, and evaluate through one `Sketches` method — `sketch`
  * interpreted, a static call to `Sketches.<method>(text, params...)`
  * from generated code (so the loop stays inside whole-stage codegen, no
  * interpreted expression-tree fallback).
  */
abstract class StringSketch extends UnaryExpression {

  /** The `Sketches` method generated code calls. */
  protected def method: String

  /** The literal parameters after the text, as Java source. */
  protected def params: Seq[String]

  protected def sketch(text: UTF8String): Any

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any = sketch(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Sketches.$method(${(c +: params).mkString(", ")})")
}

/** `minhash_sigs(text)` → array<bigint> of the n minhash family members. */
case class MinHashSigs(child: Expression, k: Int, n: Int, seed: Long)
    extends StringSketch {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sigs"
  override protected def method: String = "minhash"
  override protected def params: Seq[String] = Seq(s"$k", s"$n", s"${seed}L")
  override protected def sketch(text: UTF8String): Any = Sketches.minhash(text, k, n, seed)

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

/** `winnow_fps(text)` → array<bigint> of distinct winnowed k-gram mins. */
case class WinnowFps(child: Expression, k: Int, w: Int) extends StringSketch {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"
  override protected def method: String = "winnow"
  override protected def params: Seq[String] = Seq(s"$k", s"$w")
  override protected def sketch(text: UTF8String): Any = Sketches.winnow(text, k, w)

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

/** `gram_fps(text, k)` → array<bigint> of all k-gram md5-48 hashes, array
  * index = 0-based gram start position.
  */
case class GramFps(child: Expression, k: Int) extends StringSketch {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_fps"
  override protected def method: String = "gramFps"
  override protected def params: Seq[String] = Seq(s"$k")
  override protected def sketch(text: UTF8String): Any = Sketches.gramFps(text, k)

  override protected def withNewChildInternal(newChild: Expression): GramFps =
    copy(child = newChild)
}

/** `char_ngrams(text)` → array<string> of all char-n-grams in order. */
case class CharNgrams(child: Expression, n: Int) extends StringSketch {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"
  override protected def method: String = "charNgrams"
  override protected def params: Seq[String] = Seq(s"$n")
  override protected def sketch(text: UTF8String): Any = Sketches.charNgrams(text, n)

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

/** `simhash64(text)` → bigint signature (48 significant bits — see
  * [[Sketches.simhash]]).
  */
case class SimHash64(child: Expression) extends StringSketch {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override protected def method: String = "simhash"
  override protected def params: Seq[String] = Nil
  override protected def sketch(text: UTF8String): Any = Sketches.simhash(text)

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
