package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.{SparkSpec, TestSpark}
import graft.queries.{Similarity, Tables}

class CosineSimilaritySpec extends SparkSpec {

  test("matches the higher-order-function formulation on real embeddings") {
    val emb = Tables.t(spark, TestSpark.sf0001, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val both = emb.crossJoin(broadcast(q))
      .select(
        GraftFunctions.cosineSim(col("embedding"), col("qvec")).as("native"),
        Similarity.cosineHof(col("embedding"), col("qvec")).as("hof"))
      .collect()
    assert(both.length > 0)
    both.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("null semantics: null input, length mismatch, zero vector") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(Some(1f), Some(2f))), Some(Seq(Some(1f), Some(2f)))),   // 1.0
      (None, Some(Seq(Some(1f), Some(2f)))),                            // null input
      (Some(Seq(Some(1f), Some(2f), Some(3f))), Some(Seq(Some(1f), Some(2f)))), // length mismatch
      (Some(Seq(Some(0f), Some(0f))), Some(Seq(Some(1f), Some(2f)))),   // zero norm
      (Some(Seq(Some(1f), None)), Some(Seq(Some(1f), Some(2f))))        // null ELEMENT
    ).toDF("a", "b")
    val out = df.select(GraftFunctions.cosineSim(col("a"), col("b"))).collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0) && out(3).isNullAt(0))
    // null element → null, matching cosineHof where it propagates through
    // zip_with/aggregate (hof compared on that row only: on the zero-norm
    // row the HOF form throws ANSI DIVIDE_BY_ZERO where the native
    // expression returns null — the native semantics are the safe ones)
    assert(out(4).isNullAt(0))
    val hof = df.limit(5).filter(col("b").isNotNull && col("a").isNotNull)
      .filter(size(col("a")) === size(col("b")))
      .filter(!(col("a")(0) === 0f && col("a")(1) === 0f))
      .select(Similarity.cosineHof(col("a"), col("b"))).collect()
    assert(hof.exists(_.isNullAt(0)))
  }

  test("codegen path compiles (no interpreted fallback)") {
    val at = ArrayType(FloatType, containsNull = false)
    val expr = CosineSimilarity(BoundReference(0, at, nullable = true),
      BoundReference(1, at, nullable = true))
    // throws if doGenCode emits invalid Java
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1f, 0f)),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1f, 0f)))
    assert(math.abs(proj(row).getDouble(0) - 1.0) < 1e-12)
  }

  test("SQL registration: callable from spark.sql with no registration call") {
    val r = spark.sql("SELECT cosine_sim(array(CAST(3 AS FLOAT), CAST(4 AS FLOAT)), " +
      "array(CAST(3 AS FLOAT), CAST(4 AS FLOAT)))").head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("Literal interpreted path agrees with codegen") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val at = ArrayType(FloatType, containsNull = false)
    val a = Literal.create(ArrayData.toArrayData(Array(1f, 2f, 3f)), at)
    val b = Literal.create(ArrayData.toArrayData(Array(4f, 5f, 6f)), at)
    val interpreted = CosineSimilarity(a, b).eval(null).asInstanceOf[Double]
    val expected = (4.0 + 10.0 + 18.0) /
      (math.sqrt(1 + 4 + 9) * math.sqrt(16 + 25 + 36))
    assert(math.abs(interpreted - expected) < 1e-12)
  }
}
