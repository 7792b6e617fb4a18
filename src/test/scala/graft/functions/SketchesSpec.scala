package graft.functions

import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

class SketchesSpec extends SparkSpec {

  test("minhash: identical text gives identical signatures; different text differs") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "a completely different document body")).toDF("id", "text")
    val sigs = df.select(col("id"), GraftFunctions.minhashSigs(col("text"), 5, 16).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L), "exact duplicates must collide on every member")
    assert(sigs(1L) != sigs(3L))
    assert(sigs(1L).length == 16)
  }

  test("minhash: near-duplicates share most members, disjoint texts almost none") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = base + " ok"
    val far = "zxqwv kjhgf mnbvc poiuy trewq lkjhg fdsaz xcvbn"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "text")
    val sigs = df.select(col("id"), GraftFunctions.minhashSigs(col("text"), 5, 64).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def overlap(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y }
    assert(overlap(sigs(1L), sigs(2L)) > overlap(sigs(1L), sigs(3L)),
      "estimated Jaccard must order near-dup above unrelated")
    assert(overlap(sigs(1L), sigs(2L)) >= 48, "J≈0.95 pair should share most of 64 members")
  }

  test("minhash: short text (< k chars) hashes whole; multi-byte chars shingle by CHAR") {
    import spark.implicits._
    val df = Seq((1L, "ab"), (2L, "ab"), (3L, "한국어 문서입니다 테스트")).toDF("id", "text")
    val out = df.select(col("id"), GraftFunctions.minhashSigs(col("text"), 5, 4).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L) == out(2L))
    // CHAR-window shingles: "한국어 문" is 5 chars / 13 UTF-8 bytes — the
    // expression must produce a signature without splitting a code point
    assert(out(3L).length == 4)
  }

  test("simhash: identical normalized text collides; token-permuted text also collides") {
    import spark.implicits._
    // simhash is bag-of-tokens: permutation preserves the bit sums exactly
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "delta gamma beta alpha"),
      (3L, "epsilon zeta eta theta")).toDF("id", "text")
    val out = df.select(col("id"), GraftFunctions.simhash64(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
  }

  test("simhash: repeated/leading/trailing spaces are harmless; empty text is stable") {
    import spark.implicits._
    val df = Seq((1L, "a b"), (2L, "  a   b  "), (3L, "")).toDF("id", "text")
    val out = df.select(col("id"), GraftFunctions.simhash64(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(3L) == 0L, "no tokens → all bit sums 0 → signature 0")
  }

  test("builder errors name the offending parameter, including non-integral literals") {
    import spark.implicits._
    val df = Seq("abc").toDF("text")
    // non-integral literal must get the named-parameter message, not a
    // raw NumberFormatException out of a toString.toLong coercion
    val eDouble = intercept[IllegalArgumentException] {
      df.selectExpr("minhash_sigs(text, 5.0, 16, 42)").collect()
    }
    assert(eDouble.getMessage.contains("'k'") &&
      eDouble.getMessage.contains("integer literal"), eDouble.getMessage)
    val eNonLit = intercept[IllegalArgumentException] {
      df.selectExpr("minhash_sigs(text, length(text), 16, 42)").collect()
    }
    assert(eNonLit.getMessage.contains("'k'") &&
      eNonLit.getMessage.contains("literal"), eNonLit.getMessage)
  }

  test("minhash: native members are bit-identical to the SQL md5/conv + XOR formulation") {
    import spark.implicits._
    // the exact draw d_minhash_lsh's oracle pins: md5-48 per 5-char
    // shingle (end-clamped like SQL substring), XOR with the seed-42
    // splitmix constants, min per member — including the whole-text
    // fallback for sub-k inputs and CHAR shingles over multi-byte text
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "abc", // shorter than k → one whole-text shingle
      "한국어 문서입니다 테스트 텍스트",
      "mixed 한글 and ascii text")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val k = 5
    val n = 16
    val cArr = Sketches.minhashXorConstants(n, 42L)
      .mkString("array(", "L, ", "L)")
    val sql = df.selectExpr("id",
      s"""transform(sequence(0, ${n - 1}), j ->
          array_min(transform(sequence(0, greatest(length(t) - ${k - 1}, 1) - 1),
            i -> cast(conv(substring(md5(substring(t, i + 1, $k)), 1, 12),
              16, 10) as bigint) ^ element_at($cArr, j + 1)))) AS mh""")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val native = df.select(col("id"),
      GraftFunctions.minhashSigs(col("t"), k, n).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.indices.foreach { i =>
      assert(native(i.toLong) == sql(i.toLong), s"text #$i diverged")
    }
  }

  test("simhash: native signature is bit-identical to the SQL md5/conv bit-sum formulation") {
    import spark.implicits._
    // the exact draw d_simhash's oracle pins: md5-48 per space-separated
    // token, 48 ±1 bit sums, sign fold — spelled with nested SQL HOFs
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "한국어 문서 토큰 테스트",
      "repeated repeated repeated tokens tokens here",
      "single")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val sql = df.selectExpr("id",
      """aggregate(sequence(0, 47), cast(0 as bigint), (acc, b) -> acc +
          if(aggregate(filter(split(t, ' '), x -> x <> ''), 0, (a2, tok) ->
               a2 + if((shiftright(cast(conv(substring(md5(tok), 1, 12), 16, 10)
                 as bigint), b) & 1) = 1, 1, -1)) > 0,
             shiftleft(cast(1 as bigint), b), cast(0 as bigint))) AS s""")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = df.select(col("id"),
      GraftFunctions.simhash64(col("t")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.indices.foreach { i =>
      assert(native(i.toLong) == sql(i.toLong), s"text #$i diverged")
    }
  }

  test("winnow: native draws are bit-identical to the SQL md5/conv formulation") {
    import spark.implicits._
    // the exact draw d_winnow_fingerprints' oracle pins, spelled in SQL —
    // the native expression must reproduce it value-for-value, including
    // CHAR-based grams over multi-byte text and array_distinct order
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaaaa", // degenerate: all grams identical → 1 fp
      "한국어 문서입니다 테스트 텍스트 구간",
      "mixed 한글 and ascii text with spaces  and   runs")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "nt")
    val k = 8
    val w = 4
    val sql = df.selectExpr("id",
      s"""array_distinct(transform(
          sequence(0, length(nt) - $k - ${w - 1}),
          j -> array_min(transform(sequence(j, j + ${w - 1}),
            i -> cast(conv(substring(md5(substring(nt, i + 1, $k)), 1, 12),
              16, 10) as bigint))))) AS fps""")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val native = df.select(col("id"),
      GraftFunctions.winnowFps(col("nt"), k, w).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.indices.foreach { i =>
      assert(native(i.toLong) == sql(i.toLong), s"text #$i diverged")
    }
  }

  test("winnow: text too short for one window yields an empty array") {
    import spark.implicits._
    val out = Seq((1L, "abcdefghij")) // 10 chars < k + w - 1 = 11
      .toDF("id", "nt")
      .select(GraftFunctions.winnowFps(col("nt"), 8, 4))
      .collect()
    assert(out.head.getSeq[Long](0).isEmpty)
  }

  test("char_ngrams: native grams are identical to the SQL transform/substring draw") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox",
      "ab", // shorter than n → empty
      "한국어 문서입니다", // multi-byte: CHAR windows must not split code points
      "mixed 한글 ascii")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "p")
    val n = 3
    val sql = df.selectExpr("id",
      s"transform(sequence(1, length(p) - ${n - 1}), i -> substring(p, i, $n)) AS tg")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val native = df.select(col("id"),
      GraftFunctions.charNgrams(col("p"), n).as("tg"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    texts.indices.foreach { i =>
      // SQL sequence(1, 0) on the too-short text yields [1, 0] descending?
      // No — sequence(1, 0) yields [1, 0]; the spec's short text is
      // compared only when the SQL form is well-defined (length >= n)
      if (texts(i).length >= n)
        assert(native(i.toLong) == sql(i.toLong), s"text #$i diverged")
      else assert(native(i.toLong).isEmpty)
    }
  }

  test("gram_fps: native hashes are bit-identical to the SQL md5/conv draw") {
    import spark.implicits._
    // the exact per-position draw d_dup_spans previously spelled in SQL
    // (sequence-explode + md5/conv per row) — the native array must carry
    // the same value at every index, including CHAR-grams over multi-byte
    // text where char and byte offsets diverge
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "한국어 문서입니다 테스트 텍스트 구간 하나 더",
      "mixed 한글 and ascii text with spaces  and   runs",
      "aaaaaaaaaaaaaaaaaaaaaaaa")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "nt")
    val k = 20
    val sql = df.selectExpr("id",
      s"""transform(sequence(0, length(nt) - $k),
          i -> cast(conv(substring(md5(substring(nt, i + 1, $k)), 1, 12),
            16, 10) as bigint)) AS gh""")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val native = df.select(col("id"),
      GraftFunctions.gramFps(col("nt"), k).as("gh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.indices.foreach { i =>
      assert(native(i.toLong) == sql(i.toLong), s"text #$i diverged")
    }
  }

  test("gram_fps: text shorter than k yields an empty array; length-k yields one") {
    import spark.implicits._
    val out = Seq((1L, "short"), (2L, "exactly twenty chars"))
      .toDF("id", "nt")
      .select(col("id"), GraftFunctions.gramFps(col("nt"), 20).as("gh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L).isEmpty)
    assert(out(2L).length == 1)
  }

  test("codegen path compiles and matches interpreted eval") {
    val mh = MinHashSigs(BoundReference(0, StringType, nullable = true), 5, 8, 42L)
    val sh = SimHash64(BoundReference(0, StringType, nullable = true))
    val wf = WinnowFps(BoundReference(0, StringType, nullable = true), 8, 4)
    val cn = CharNgrams(BoundReference(0, StringType, nullable = true), 3)
    val gf = GramFps(BoundReference(0, StringType, nullable = true), 8)
    val proj = GenerateUnsafeProjection.generate(Seq(mh, sh, wf, cn, gf))
    val row = org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString("the quick brown fox"))
    val out = proj(row)
    val interpMh = mh.eval(row).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(out.getArray(0).toLongArray.toSeq == interpMh.toLongArray.toSeq)
    assert(out.getLong(1) == sh.eval(row))
    val interpWf = wf.eval(row).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(out.getArray(2).toLongArray.toSeq == interpWf.toLongArray.toSeq)
    val interpCn = cn.eval(row).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(out.getArray(3).toArray[UTF8String](StringType).toSeq ==
      interpCn.toArray[UTF8String](StringType).toSeq)
    val interpGf = gf.eval(row).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(out.getArray(4).toLongArray.toSeq == interpGf.toLongArray.toSeq)
  }
}
