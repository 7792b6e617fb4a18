package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** One loop over a pair of numeric-array columns (`array<float>` or
  * `array<double>` on either side, mixed freely — the double side shows up
  * when one input is an averaged centroid), interpreted and generated.
  *
  * The loop accumulates `dot += x(i) * y(i)` left-to-right from 0.0 and,
  * when [[norms]] is set, `nx += x(i) * x(i)` and then `ny += y(i) * y(i)`
  * in the same pass — the same floating-point evaluation order as the
  * higher-order-function forms (`aggregate(zip_with(...))`), so replacing
  * one with the other is bit-identical. The subclasses differ only in
  * whether they accumulate the norms and in how they compute the final
  * value from the accumulators.
  *
  * Null semantics match the HOF forms: null if either array is null, if
  * lengths differ, or if any element is null (a null element propagates
  * through zip_with/aggregate); a subclass's final value may add its own.
  */
abstract class VectorPair extends BinaryExpression {

  /** Whether the loop also accumulates the two squared norms. */
  protected def norms: Boolean

  /** The result from the accumulators (norms stay 0.0 unless [[norms]]). */
  protected def result(dot: Double, nx: Double, ny: Double): Any

  /** Java statements setting `ev.value` or `ev.isNull` from the
    * accumulator variables — the generated twin of [[result]].
    */
  protected def resultCode(ctx: CodegenContext, ev: ExprCode,
      dot: String, nx: String, ny: String): String

  override def checkInputDataTypes(): TypeCheckResult =
    VectorPair.checkVectors(prettyName, left, right)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  // loop-invariant after binding; hoisted out of the per-row eval path
  @transient private lazy val leftIsFloat = VectorPair.isFloat(left)
  @transient private lazy val rightIsFloat = VectorPair.isFloat(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val lf = leftIsFloat; val rf = rightIsFloat; val withNorms = norms
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv
      if (withNorms) { nx += xv * xv; ny += yv * yv }
      i += 1
    }
    result(dot, nx, ny)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val getX = if (VectorPair.isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getY = if (VectorPair.isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      val accNorms = if (norms) s" $nx += $xv * $xv; $ny += $yv * $yv;" else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xv = $getX;
         |    double $yv = $getY;
         |    $dot += $xv * $yv;$accNorms
         |  }
         |  if (!${ev.isNull}) {
         |    ${resultCode(ctx, ev, dot, nx, ny)}
         |  }
         |}
       """.stripMargin
    })
}

object VectorPair {

  /** Whether `e` is an `array<float>` (else, once type-checked, an
    * `array<double>`).
    */
  def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** The type check of every vector kernel: each of `args` must be an
    * `array<float|double>`.
    */
  def checkVectors(fn: String, args: Expression*): TypeCheckResult =
    if (args.forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn requires array<float|double> arguments, got " +
        args.map(_.dataType.catalogString).mkString(" and "))
}

/** Native codegen'd dot product — the single-pass inner loop behind LSH
  * hyperplane projections: `Similarity.planeProj` used to evaluate
  * `aggregate(zip_with(emb, planeLit, ...))` — one interpreted lambda call
  * per element per plane, 64 planes × 64 dims per row in `s_ann_recall`.
  * Bucket signs, and thus every downstream rows-only result, do not move
  * (see [[VectorPair]] for the accumulation order).
  */
case class DotProduct(left: Expression, right: Expression) extends VectorPair {

  override def prettyName: String = "dot_product"
  override protected def norms: Boolean = false

  override protected def result(dot: Double, nx: Double, ny: Double): Any = dot

  override protected def resultCode(ctx: CodegenContext, ev: ExprCode,
      dot: String, nx: String, ny: String): String = s"${ev.value} = $dot;"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native codegen'd cosine similarity: `dot / (sqrt(nx) * sqrt(ny))`, null
  * when either norm is zero (on top of [[VectorPair]]'s null rules).
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`,
  * `graft.queries.Similarity.cosineHof`) evaluates its lambda interpreted,
  * one function call per element; this expression compiles to a tight Java
  * loop inside whole-stage codegen — the hot inner loop of brute-force ANN
  * at 100 TB. Single pass computes dot product and both norms.
  */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorPair {

  override def prettyName: String = "cosine_sim"
  override protected def norms: Boolean = true

  override protected def result(dot: Double, nx: Double, ny: Double): Any = {
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) null else dot / denom
  }

  override protected def resultCode(ctx: CodegenContext, ev: ExprCode,
      dot: String, nx: String, ny: String): String = {
    val denom = ctx.freshName("denom")
    s"""double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
       |if ($denom == 0.0) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = $dot / $denom;
       |}""".stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
