package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class UnicodeNormSpec extends SparkSpec {

  private val decomposed = "cafe\u0301" // e + COMBINING ACUTE ACCENT
  private val precomposed = "caf\u00e9" // single-codepoint e-acute
  private val fullwidth = "\uff11\uff12" // fullwidth '12' (NFKC-only fold)

  test("NFC folds combining sequences; already-NFC text passes through") {
    import spark.implicits._
    val df = Seq(decomposed, precomposed, "plain ascii").toDF("s")
    val out = df.select(GraftFunctions.unicodeNorm(col("s")).as("n"),
      length(col("s")).as("lr"), length(GraftFunctions.unicodeNorm(col("s"))).as("ln"))
      .collect()
    assert(out(0).getString(0) == precomposed && out(0).getInt(1) == 5 && out(0).getInt(2) == 4)
    assert(out(1).getString(0) == precomposed)
    assert(out(2).getString(0) == "plain ascii")
  }

  test("NFKC additionally folds compatibility characters; NFC does not") {
    import spark.implicits._
    val df = Seq(fullwidth).toDF("s")
    val out = df.select(
      GraftFunctions.unicodeNorm(col("s"), "NFC").as("nfc"),
      GraftFunctions.unicodeNorm(col("s"), "NFKC").as("nfkc")).collect()
    assert(out(0).getString(0) == fullwidth)
    assert(out(0).getString(1) == "12")
  }

  test("interpreted eval matches codegen and SQL registration works") {
    import spark.implicits._
    // force the interpreted path via direct expression eval
    val e = NormalizeUnicode(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(decomposed)), "NFC")
    assert(e.eval(null).toString == precomposed)
    // codegen path through a real projection + SQL function name
    Seq(decomposed).toDF("s").createOrReplaceTempView("un_t")
    val viaSql = spark.sql("SELECT unicode_norm(s) AS n, unicode_norm(s, 'NFD') AS d FROM un_t")
      .collect()
    assert(viaSql(0).getString(0) == precomposed)
    assert(viaSql(0).getString(1) == decomposed)
  }

  test("null propagates; invalid form rejected at analysis") {
    import spark.implicits._
    val out = Seq(Option.empty[String]).toDF("s")
      .select(GraftFunctions.unicodeNorm(col("s"))).collect()
    assert(out(0).isNullAt(0))
    Seq("x").toDF("s").createOrReplaceTempView("un_bad")
    val err = intercept[Exception] {
      spark.sql("SELECT unicode_norm(s, 'NOPE') FROM un_bad").collect()
    }
    assert(err.getMessage.contains("NFC") || err.getMessage.contains("NOPE"))
  }
}
