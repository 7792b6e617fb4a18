package graft.util

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TestSpark}
import graft.queries.Tables

class SkewSpec extends SparkSpec {

  test("AQE skew-join splits a planted whale key natively (executed-plan marker)") {
    // The scale story documented in Skew.scala: AQE's skewJoin handles hot
    // keys at runtime without salting. Prove it fires — with test-sized
    // thresholds, a planted whale key (~100x every other key) must make
    // the executed SortMergeJoin carry the skew=true marker and the
    // shuffle read split the hot partition, while results stay exact.
    import spark.implicits._
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val fact = spark.range(0, 120000).select(
        when($"id" < 100000, 0L).otherwise(pmod($"id", lit(97L)) + 1L).as("k"),
        $"id".as("v"))
      val dim = spark.range(0, 98).select($"id".as("k"), concat(lit("d"), $"id").as("d"))
      val joined = fact.join(dim, Seq("k"))
      // collect executes THIS frame's QueryExecution (a write would spawn
      // its own), so the adaptive plan below is the final one
      val n = joined.collect().length
      assert(n == 120000, "skew split must not change the result")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin(skew=true)"),
        s"AQE must mark the join as skew-handled, got:\n$plan")
      assert(plan.contains("AQEShuffleRead skewed"),
        s"the hot partition's shuffle read must be split, got:\n$plan")
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("saltedSum matches plain aggregation") {
    val o = Tables.t(spark, TestSpark.sf0001, "orders")
    val plain = o.groupBy("o_orderstatus")
      .agg(round(sum("o_totalprice"), 2).as("s"), count(lit(1)).as("c"))
      .orderBy("o_orderstatus")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    val salted = Skew.saltedSum(o, "o_orderstatus", "o_totalprice", salts = 16)
      .select(col("o_orderstatus"), round(col("sum_o_totalprice"), 2), col("cnt"))
      .orderBy("o_orderstatus")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(salted == plain)
  }
}
