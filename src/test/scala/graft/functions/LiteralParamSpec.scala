package graft.functions

import graft.SparkSpec

/** Literal parameters out of range, of the wrong type or holding NULL
  * fail at analysis with an IllegalArgumentException naming the function
  * and the parameter — never a silent Int wrap, an executor
  * ArrayIndexOutOfBoundsException or a ClassCastException.
  */
class LiteralParamSpec extends SparkSpec {

  private def rejects(fn: String, param: String, call: String): Unit =
    test(s"$fn rejects $call") {
      import spark.implicits._
      val df = Seq(("some document text", Seq(1.0, 2.0, 3.0))).toDF("text", "v")
      val e = intercept[IllegalArgumentException](df.selectExpr(call).collect())
      assert(e.getMessage.contains(fn) && e.getMessage.contains(s"'$param'"),
        e.getMessage)
    }

  rejects("minhash_sigs", "k", "minhash_sigs(text, 4294967301, 16, 42)")
  rejects("minhash_sigs", "k", "minhash_sigs(text, 0, 16, 42)")
  rejects("minhash_sigs", "n", "minhash_sigs(text, 5, 0, 42)")
  rejects("minhash_sigs", "n", "minhash_sigs(text, 5, -1, 42)")
  rejects("winnow_fps", "k", "winnow_fps(text, 0, 4)")
  rejects("winnow_fps", "w", "winnow_fps(text, 8, 0)")
  rejects("char_ngrams", "n", "char_ngrams(text, -1)")
  rejects("char_ngrams", "n", "char_ngrams(text, 0)")
  rejects("gram_fps", "k", "gram_fps(text, 0)")
  rejects("argmax_sim", "offset", "argmax_sim(v, true, -1, array(1), array(array(1.0D)))")
  rejects("argmax_sim", "offset", "argmax_sim(v, true, 4294967296, array(1), array(array(1.0D)))")
  rejects("argmax_sim", "cosine", "argmax_sim(v, 1, 0, array(1), array(array(1.0D)))")
  rejects("argmax_sim", "ids", "argmax_sim(v, true, 0, array(1.5D), array(array(1.0D)))")
  rejects("argmax_sim", "ids", "argmax_sim(v, true, 0, array(1, NULL), array(array(1.0D), array(2.0D)))")
  rejects("argmax_sim", "matrix", "argmax_sim(v, true, 0, array(1), array(array(1)))")
}
