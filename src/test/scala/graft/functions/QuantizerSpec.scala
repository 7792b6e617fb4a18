package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, SparkSpec, TestSpark}

/** The literal quantizer's degenerate-input contract: a candidate table
  * that is empty or holds a null id, vector or element fails with an
  * IllegalArgumentException naming the table (never a driver NPE or a
  * NoSuchElementException); a label past Int range fails the ANSI cast
  * instead of wrapping; and the one-shot queries keep their empty result
  * when there is no query vector.
  */
class QuantizerSpec extends SparkSpec {

  private val vecSchema = StructType(Seq(
    StructField("id", IntegerType), StructField("v", ArrayType(FloatType))))

  private def collected(rows: Row*): Quantizer.Collected =
    Quantizer.collect("probe table",
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), vecSchema))

  private def rejects(what: String)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains("'probe table'") && e.getMessage.contains(what),
      e.getMessage)
  }

  /** The embeddings of sf0.001 rewritten by `f`, as a one-table corpus. */
  private def corpus(f: DataFrame => DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-quantizer").toString
    f(graft.queries.Tables.t(spark, TestSpark.sf0001, "embeddings"))
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("float vectors widen exactly and candidates sort by id") {
    val c = collected(Row(2, Seq(0.1f, 2.0f)), Row(1, Seq(1.5f, -0.3f))).cands
    assert(c.map(_._1) == Seq(1, 2))
    assert(c.head._2 == Seq(1.5f.toDouble, -0.3f.toDouble))
  }

  test("an empty candidate set raises IllegalArgumentException naming the table") {
    rejects("empty candidate set")(collected().cands)
  }

  test("a null vector raises IllegalArgumentException naming the table") {
    rejects("null vector for candidate 7")(
      collected(Row(1, Seq(1.0f)), Row(7, null)).cands)
  }

  test("a null vector element raises IllegalArgumentException naming the table") {
    rejects("null element in the vector of candidate 3")(
      collected(Row(3, Seq(1.0f, null))).cands)
  }

  test("a null candidate id raises IllegalArgumentException naming the table") {
    rejects("null candidate id")(collected(Row(null, Seq(1.0f))).cands)
  }

  test("an empty or partial codebook raises IllegalArgumentException, not NoSuchElementException") {
    val cbSchema = StructType(Seq(StructField("m", IntegerType),
      StructField("code", IntegerType), StructField("cw", ArrayType(FloatType))))
    def codebook(rows: Row*) = Quantizer.collect("probe table",
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), cbSchema)).codebook
    rejects("empty candidate set")(codebook())
    rejects("no codewords for subspace 1")(codebook(Row(0, 0, Seq(1.0f))))
  }

  test("a label past Int.MaxValue fails the ANSI cast (CAST_OVERFLOW), never wraps") {
    val emb = spark.range(1).select(col("id").as("vec_id"),
      lit(3000000000L).as("label"),
      array_repeat(lit(0.5f), 64).as("embedding"))
    val e = intercept[Exception](Quantizer.labelCentroids(emb).collect())
    // SparkArithmeticException is private[spark]: match its public faces
    val overflow = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null)
      .collectFirst { case a: ArithmeticException with org.apache.spark.SparkThrowable => a }
    assert(overflow.exists(a => a.getCondition == "CAST_OVERFLOW" &&
      a.getClass.getSimpleName == "SparkArithmeticException"), e.toString)
  }

  test("empty embeddings: query-guarded entries stay empty, seeded ones name their table") {
    val d = corpus(_.limit(0))
    for (q <- Seq("s_ivf_topk", "s_ivfpq_topk", "s_pq_topk"))
      assert(SparkEntry.queries(q)(spark, d).isEmpty, q)
    for (q <- Seq("s_kmeans", "s_cluster_balance_sample", "s_semdedup")) {
      val e = intercept[IllegalArgumentException](SparkEntry.queries(q)(spark, d))
      assert(e.getMessage.contains(s"'$q seeds': empty candidate set"), e.getMessage)
    }
  }

  test("a null seed embedding fails with the seed table named, not a driver NPE") {
    val d = corpus(emb => emb.withColumn("embedding",
      when(col("vec_id") === 3, lit(null).cast(emb.schema("embedding").dataType))
        .otherwise(col("embedding"))))
    val e = intercept[IllegalArgumentException](SparkEntry.queries("s_kmeans")(spark, d))
    assert(e.getMessage.contains("'s_kmeans seeds': null vector for candidate 3"),
      e.getMessage)
  }

  private val identityHash = "@[0-9a-f]{6,}".r

  test("argmax_sim plan strings render the literals by content, never identity hashes") {
    def mk(mat: Array[Array[Double]]) = ArgmaxSim(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, ArrayType(DoubleType), nullable = true),
      cosine = true, offset = 0, Array(3, 7), mat)
    val a = mk(Array(Array(1.0, 0.5), Array(0.25, 2.0)))
    val b = mk(Array(Array(1.0, 0.5), Array(0.25, 2.0)))
    assert(a.toString == b.toString)
    assert(a.toString.startsWith("argmax_sim(") &&
      a.toString.contains("[3,7]") && a.toString.contains("2x2:md5="), a.toString)
    assert(identityHash.findFirstIn(a.toString).isEmpty, a.toString)
    assert(mk(Array(Array(1.0, 0.5), Array(0.25, 2.5))).toString != a.toString,
      "the digest must follow the matrix content")
  }

  test("s_ivfpq_topk's formatted plan carries no JVM identity hash") {
    val plan = SparkEntry.queries("s_ivfpq_topk")(spark, TestSpark.sf0001)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("argmax_sim("), plan)
    assert(identityHash.findFirstIn(plan).isEmpty,
      identityHash.findAllIn(plan).take(3).mkString(", "))
  }
}
