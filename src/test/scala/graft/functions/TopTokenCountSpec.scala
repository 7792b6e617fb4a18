package graft.functions

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TestSpark}
import graft.queries.Text

/** Referee for the r20 native top-word count: TopTokenCount must equal
  * the explode → groupBy(doc_id, w) → max formulation it replaced, row
  * for row on the real corpus and on the edge shapes the corpus cannot
  * produce (interpreted-vs-codegen parity comes free via the shared
  * whole-stage path; the edge rows pin the semantics the scaladoc
  * documents).
  */
class TopTokenCountSpec extends SparkSpec {

  test("native == explode+groupBy max on the dup corpus, every doc") {
    val s = spark
    val docs = graft.queries.Dedup.corpusWithDups(s, TestSpark.sf0001)
      .select(col("doc_id"), Text.tokens(col("text")).as("sp"))
    val ref = docs.select(col("doc_id"), explode(col("sp")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_cnt"))
    val got = docs.select(col("doc_id"),
      GraftFunctions.topTokenCount(col("sp")).as("top_cnt"))
    assert(got.count() == ref.count(), "tokens() yielded an empty array?")
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
  }

  test("edge shapes: empty-string token, singleton, ties, null element, empty array") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq("")),                        // whitespace-only doc: split yields [""]
      (2L, Seq("a")),
      (3L, Seq("a", "b", "a", "b")),        // tie → still the max count
      (4L, Seq("x", "x", "y", "x")),
      (5L, Seq.empty[String])               // unreachable via tokens(); pinned = 0
    ).toDF("id", "sp")
    val got = df.select(col("id"),
        GraftFunctions.topTokenCount(col("sp")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 0L))
    // null element counts as its own group (explode emitted it as a row)
    val withNull = df.sparkSession.sql(
      "SELECT top_token_count(array('a', NULL, NULL)) AS c")
    assert(withNull.head().getLong(0) == 2L)
    // null array → null (former: the doc vanished from the join; tokens()
    // of a non-null text is never null, so no declared query reaches it)
    val nullArr = df.sparkSession.sql(
      "SELECT top_token_count(CAST(NULL AS ARRAY<STRING>)) AS c")
    assert(nullArr.head().isNullAt(0))
  }
}
