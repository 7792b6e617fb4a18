package graft.functions

import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.{SparkSpec, TestSpark}
import graft.queries.{Similarity, Tables}

class DotProductSpec extends SparkSpec {

  test("bit-identical to the aggregate(zip_with(...)) HOF form on real embeddings") {
    val emb = Tables.t(spark, TestSpark.sf0001, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val both = emb.crossJoin(broadcast(q))
      .select(
        GraftFunctions.dotProduct(col("embedding"), col("qvec")).as("native"),
        Similarity.dot(col("embedding"), col("qvec")).as("hof"))
      .collect()
    assert(both.length > 0)
    // same accumulation order → EXACT equality, not epsilon
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("mixed float/double sides: float column against a double literal plane") {
    import spark.implicits._
    val plane = Array(0.5, -1.0, 2.0)
    val df = Seq(Seq(1f, 2f, 3f), Seq(-1f, 0f, 4f)).toDF("a")
    val out = df.select(
      GraftFunctions.dotProduct(col("a"), typedLit(plane)).as("native"),
      aggregate(zip_with(col("a"), typedLit(plane), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x).as("hof"))
      .collect()
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("null semantics: null input, length mismatch, null element") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(Some(1f), Some(2f))), Some(Seq(Some(3f), Some(4f)))),   // 11.0
      (None, Some(Seq(Some(1f), Some(2f)))),                            // null input
      (Some(Seq(Some(1f), Some(2f), Some(3f))), Some(Seq(Some(1f), Some(2f)))), // length mismatch
      (Some(Seq(Some(1f), None)), Some(Seq(Some(1f), Some(2f))))        // null element
    ).toDF("a", "b")
    val out = df.select(GraftFunctions.dotProduct(col("a"), col("b"))).collect()
    assert(out(0).getDouble(0) == 11.0)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0) && out(3).isNullAt(0))
  }

  test("codegen path compiles for both element types (no interpreted fallback)") {
    val ft = ArrayType(FloatType, containsNull = false)
    val dt = ArrayType(DoubleType, containsNull = false)
    val expr = DotProduct(BoundReference(0, ft, nullable = true),
      BoundReference(1, dt, nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1f, 2f)),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(3.0, 4.0)))
    assert(proj(row).getDouble(0) == 11.0)
  }
}
