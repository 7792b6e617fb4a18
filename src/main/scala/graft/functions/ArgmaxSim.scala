package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Native frozen-quantizer argmax: the id of the candidate row of a
  * LITERAL matrix maximizing `round(metric(v[offset..offset+len)), 9)`,
  * with the exact max-of-struct ordering the aggregate/greatest
  * formulations used — larger id wins metric ties, a null metric (zero
  * norm or a too-short/null-element vector) sorts below every non-null
  * one, and an all-null field ties resolve to the largest id.
  *
  * Why an expression and not `greatest(struct(round(cos(v, lit)), id)…)`:
  * inlining cells + M·codes candidate loops as separate codegen'd
  * subtrees generates a method past the JIT's huge-method limit, so the
  * whole projection runs in the bytecode interpreter (measured 0.25
  * ms/row — slower than the broadcast-join shape it replaced). Here the
  * candidate loop lives in compiled Scala behind one tiny generated
  * call, the per-candidate arithmetic is the same double sequence
  * (float operands widen exactly), and rounding replays Spark's own
  * Round semantics ([[ArgmaxSim.round9]]).
  *
  * The matrix/ids/offset/metric arrive as foldable literals (codebooks
  * are bounded catalog metadata — the probe-extract license); candidate
  * norms for the cosine metric are precomputed per candidate at
  * construction, which changes no value (the norm accumulates over the
  * same ascending index order either way).
  */
case class ArgmaxSim(child: Expression, cosine: Boolean, offset: Int,
    ids: Array[Int], mat: Array[Array[Double]]) extends UnaryExpression {

  require(ids.length == mat.length && ids.nonEmpty,
    s"argmax_sim: ${ids.length} ids vs ${mat.length} matrix rows")
  require(mat.forall(_.length == mat.head.length),
    "argmax_sim: ragged candidate matrix")

  override def checkInputDataTypes(): TypeCheckResult =
    VectorPair.checkVectors(prettyName, child)

  // plan strings render the literals by content: the ids, and the
  // matrix as its shape plus a short digest (never 64-wide rows, never
  // the arrays' JVM identity hashes); equals/hashCode are unchanged
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, cosine, offset, ids.mkString("[", ",", "]"), matrixTag)

  @transient private lazy val matrixTag: String = ArgmaxSim.matrixTag(mat)

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "argmax_sim"

  @transient private lazy val childIsFloat = VectorPair.isFloat(child)

  // per-candidate norm accumulators (ascending index — the same add
  // order the fused loop used, so sqrt sees the identical double)
  @transient private lazy val normY: Array[Double] = mat.map { row =>
    var ny = 0.0; var j = 0
    while (j < row.length) { ny += row(j) * row(j); j += 1 }
    ny
  }

  /** The argmax loop; `x` non-null. Returns an id ALWAYS (all-null
    * metrics resolve to the largest id, as struct-max did).
    */
  def evalVec(x: ArrayData): Int = {
    val len = mat.head.length
    val fits = x.numElements() >= offset + len
    var bestId = 0
    var bestM = 0.0
    var bestNull = true
    var first = true
    var i = 0
    while (i < ids.length) {
      val row = mat(i)
      // metric: null when the slice is short or an element is null or
      // (cosine) a norm is zero — matching cos/dot's null semantics
      var isNull = !fits
      var m = 0.0
      if (!isNull) {
        var dot = 0.0; var nx = 0.0
        var j = 0
        while (j < len && !isNull) {
          if (x.isNullAt(offset + j)) isNull = true
          else {
            val xv = if (childIsFloat) x.getFloat(offset + j).toDouble
              else x.getDouble(offset + j)
            dot += xv * row(j); nx += xv * xv
            j += 1
          }
        }
        if (!isNull) {
          if (cosine) {
            val denom = math.sqrt(nx) * math.sqrt(normY(i))
            if (denom == 0.0) isNull = true else m = ArgmaxSim.round9(dot / denom)
          } else m = ArgmaxSim.round9(dot)
        }
      }
      // struct-max replacement rule over ascending ids: ties (equal
      // metric, or both null) go to the later = larger id
      val take =
        if (first) true
        else if (isNull) bestNull
        else bestNull || m >= bestM
      if (take) { bestId = ids(i); bestM = m; bestNull = isNull }
      first = false
      i += 1
    }
    bestId
  }

  override def nullSafeEval(a: Any): Any = evalVec(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("argmaxSim", this, classOf[ArgmaxSim].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalVec($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): ArgmaxSim =
    copy(child = newChild)
}

object ArgmaxSim {
  /** `<rows>x<cols>:md5=<8 hex>` — the md5 covers every element's
    * IEEE-754 bits in row order, so equal matrices print equally. */
  def matrixTag(mat: Array[Array[Double]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    mat.foreach(_.foreach { x => buf.clear(); md.update(buf.putDouble(x).array()) })
    s"${mat.length}x${mat.head.length}:md5=" +
      md.digest().take(4).map("%02x".format(_)).mkString
  }

  /** Spark's Round(x, 9) double semantics, verbatim (RoundBase: NaN and
    * infinities pass through; otherwise scala BigDecimal HALF_UP at
    * scale 9) — the discrete decisions must replay the oracle's
    * rounding bit for bit.
    */
  def round9(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else scala.math.BigDecimal(d)
      .setScale(9, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
}
