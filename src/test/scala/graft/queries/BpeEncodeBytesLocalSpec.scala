package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TestSpark}

/** r20 optimization pin: t_bpe_encode / t_bpe_encode_bytes moved their
  * K = 5 training + vocabulary costing from the distributed per-round
  * chain to the driver-side trainer (the t_bpe_merges_deep license).
  * The swap must be output-invariant:
  * (1) trainLocal over the collected WORD units == the distributed
  *     bpeChainFrom over the same units — the word-unit sibling of
  *     BpeDeepSpec's bigram pin;
  * (2) the driver-side variant-vocabulary segmentation + byte-fallback
  *     costing == the former DISTRIBUTED shape (5 broadcast crossJoin
  *     replace-twice folds + the alphabet∪merges join), reconstructed
  *     here verbatim as the referee.
  */
class BpeEncodeBytesLocalSpec extends SparkSpec {

  private val sf = TestSpark.sf0001

  test("k=5 word-unit training: driver loop == distributed chain") {
    val docs = Tables.t(spark, sf, "documents")
    val collected = Text.collectWordUnits(docs, "spec")
    val (local, finalSyms) = Text.trainLocal(collected, 5)
    val unitsDf = docs.select(explode(Text.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
    val (distributed, distVocab) = Text.bpeChainFrom(unitsDf, 5)
    val dist = distributed.reduce(_.unionAll(_)).orderBy("it").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(local == dist,
      "k=5 driver-loop merges diverged from the distributed chain on word units")
    // the APPLIED vocabulary too (t_bpe_encode consumes finalSyms)
    val distSyms = distVocab.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(finalSyms.toMap == distSyms,
      "k=5 driver-loop final segmentation diverged from the distributed chain")
  }

  test("byte-fallback costing: driver-side == former distributed fold") {
    val docs = Tables.t(spark, sf, "documents")
    // the NEW path's observable output
    val now = SparkEntry_bpeBytes(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    // referee: the former distributed shape, verbatim
    val units = docs.select(explode(Text.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
    val (merges, _) = Text.bpeChainFrom(units, 5)
    val alpha = units.select(explode(expr(
      "transform(sequence(1, length(w)), i -> substring(w, i, 1))")).as("sym"))
    val known = alpha
      .unionByName(merges.map(_.select(col("new_symbol").as("sym")))
        .reduce(_ unionAll _))
      .distinct()
      .withColumn("known", lit(1L))
    def variant(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(pmod(length(c), lit(3)) === 0, concat(c, lit("é"))).otherwise(c)
    var seg = units.select(variant(col("w")).as("w")).distinct()
      .select(col("w"), concat(lit(" "),
        concat_ws(" ", expr(
          "transform(sequence(1, length(w)), i -> substring(w, i, 1))")),
        lit(" ")).as("sym"))
    merges.foreach { m =>
      seg = seg.crossJoin(broadcast(m.select(col("pair"))))
        .select(col("w"), expr(
          "replace(replace(sym, ' ' || pair || ' ', ' ' || replace(pair, ' ', '') || ' '), " +
            "' ' || pair || ' ', ' ' || replace(pair, ' ', '') || ' ')")
          .as("sym"))
    }
    val costed = seg
      .select(col("w"), explode(split(trim(col("sym")), " ")).as("sym"))
      .join(known, Seq("sym"), "left")
      .groupBy("w")
      .agg(sum(when(col("known").isNotNull, lit(1L))
          .otherwise(octet_length(col("sym")).cast("long"))).as("n_tok"),
        sum(when(col("known").isNull, octet_length(col("sym")).cast("long"))
          .otherwise(lit(0L))).as("n_fb"))
    val ref = docs
      .select(col("lang"), explode(Text.tokens(col("text"))).as("w0"))
      .filter(col("w0") =!= "")
      .select(col("lang"), variant(col("w0")).as("w"))
      .join(costed, "w")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum("n_tok").cast("bigint").as("n_tokens"),
        sum("n_fb").cast("bigint").as("n_fallback_bytes"),
        round(sum("n_tok").cast("double") / count(lit(1)), 4).as("fertility"))
      .orderBy("lang")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(now == ref,
      "driver-side byte-fallback ledger diverged from the former distributed fold")
  }

  /** The production entry, by name — so the referee compares what ships. */
  private def SparkEntry_bpeBytes(docs: org.apache.spark.sql.DataFrame) = {
    // t_bpe_encode_bytes over the full corpus == bpeEncodeBytesOver(docs);
    // invoke through the public query map to pin the wiring too
    graft.SparkEntry.queries("t_bpe_encode_bytes")(spark, sf)
  }
}
