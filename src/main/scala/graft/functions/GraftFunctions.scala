package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions.{array, call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StringType}

/** Registration + Column-API access for graft's native functions.
  *
  * [[GraftFunctions.natives]] is the only place a native function is
  * declared: its SQL name, the expression class its `ExpressionInfo`
  * names, its argument signature and its builder. `ensureRegistered` and
  * [[GraftSessionExtensions]] both register exactly that table, and every
  * builder reads its literal parameters through one reader
  * ([[GraftFunctions.Args]]), which also raises the arity error.
  */
object GraftFunctions {

  /** One native function: `params` names its arguments in order, of which
    * the last `optional` may be left out.
    */
  final case class Native(name: String, expr: Class[_ <: Expression],
      params: Seq[String], optional: Int = 0)(build: Args => Expression) {

    def info: ExpressionInfo = new ExpressionInfo(expr.getCanonicalName, name)

    val builder: Seq[Expression] => Expression = args => build(new Args(this, args))

    /** The arity part of the error a call with the wrong argument count
      * raises, e.g. `expects 1 to 2 arguments (str[, form])`.
      */
    def arity: String = {
      val required = params.size - optional
      val count =
        if (optional > 0) s"$required to ${params.size} arguments"
        else if (required == 1) "1 argument"
        else s"$required arguments"
      val sig = params.take(required).mkString(", ") +
        params.drop(required).map(p => s"[, $p]").mkString
      s"expects $count ($sig)"
    }
  }

  /** The native functions, each declared once. */
  val natives: Seq[Native] = Seq(
    Native("cosine_sim", classOf[CosineSimilarity], Seq("a", "b"))(a =>
      CosineSimilarity(a("a"), a("b"))),
    Native("dot_product", classOf[DotProduct], Seq("a", "b"))(a =>
      DotProduct(a("a"), a("b"))),
    Native("unicode_norm", classOf[NormalizeUnicode], Seq("str", "form"), optional = 1)(a =>
      NormalizeUnicode(a("str"), if (a.has("form")) a.string("form") else "NFC")),
    Native("minhash_sigs", classOf[MinHashSigs], Seq("text", "k", "n", "seed"))(a =>
      MinHashSigs(a("text"), a.int("k"), a.int("n"), a.long("seed"))),
    Native("simhash64", classOf[SimHash64], Seq("text"))(a => SimHash64(a("text"))),
    Native("winnow_fps", classOf[WinnowFps], Seq("text", "k", "w"))(a =>
      WinnowFps(a("text"), a.int("k"), a.int("w"))),
    Native("char_ngrams", classOf[CharNgrams], Seq("text", "n"))(a =>
      CharNgrams(a("text"), a.int("n"))),
    Native("gram_fps", classOf[GramFps], Seq("text", "k"))(a =>
      GramFps(a("text"), a.int("k"))),
    // all but `v` are literals: the frozen-quantizer tables are bounded
    // catalog metadata baked into the expression
    Native("argmax_sim", classOf[ArgmaxSim], Seq("v", "cosine", "offset", "ids", "matrix"))(a =>
      ArgmaxSim(a("v"), a.bool("cosine"), a.int("offset", min = 0),
        a.ints("ids"), a.matrix("matrix"))),
    Native("top_token_count", classOf[TopTokenCount], Seq("array"))(a =>
      TopTokenCount(a("array"))))

  /** The one literal-parameter reader: the arguments of one call of `fn`,
    * looked up by parameter name. Literal reads fail with an
    * `IllegalArgumentException` naming the function and the parameter
    * when the argument is not a foldable literal, is NULL, has the wrong
    * type or lies out of range.
    */
  final class Args private[GraftFunctions] (fn: Native, args: Seq[Expression]) {
    if (args.size < fn.params.size - fn.optional || args.size > fn.params.size)
      throw new IllegalArgumentException(s"${fn.name} ${fn.arity}, got ${args.size}")

    private def fail(p: String, what: String): Nothing =
      throw new IllegalArgumentException(s"${fn.name}: parameter '$p' $what")

    private def typed(e: Expression) = s"${e.sql} of type ${e.dataType.simpleString}"

    /** Whether the call passed parameter `p`. */
    def has(p: String): Boolean = fn.params.indexOf(p) < args.size

    /** Parameter `p` as passed (a column argument). */
    def apply(p: String): Expression = args(fn.params.indexOf(p))

    private def value(p: String): Any = {
      val e = apply(p)
      if (!e.foldable) fail(p, s"must be a literal, got ${e.sql}")
      val v = e.eval(null)
      if (v == null) fail(p, "must not be NULL")
      v
    }

    def long(p: String): Long = value(p) match {
      case v @ (_: java.lang.Integer | _: java.lang.Long | _: java.lang.Short | _: java.lang.Byte) =>
        v.asInstanceOf[Number].longValue
      case _ => fail(p, s"must be an integer literal, got ${typed(apply(p))}")
    }

    /** An integer literal in `min..Int.MaxValue`. */
    def int(p: String, min: Int = 1): Int = {
      val v = long(p)
      if (v < min || v > Int.MaxValue)
        fail(p, s"must be an integer literal in $min..${Int.MaxValue}, got $v")
      v.toInt
    }

    def bool(p: String): Boolean = value(p) match {
      case b: java.lang.Boolean => b
      case _ => fail(p, s"must be a boolean literal, got ${typed(apply(p))}")
    }

    def string(p: String): String = {
      val v = value(p)
      if (apply(p).dataType != StringType)
        fail(p, s"must be a string literal, got ${typed(apply(p))}")
      v.toString
    }

    private def noNulls(p: String, a: ArrayData): ArrayData = {
      if ((0 until a.numElements()).exists(a.isNullAt)) fail(p, "must not contain NULL")
      a
    }

    /** An `array<int>` literal without NULL elements. */
    def ints(p: String): Array[Int] = {
      val v = value(p)
      apply(p).dataType match {
        case ArrayType(IntegerType, _) => noNulls(p, v.asInstanceOf[ArrayData]).toIntArray()
        case _ => fail(p, s"must be an array<int> literal, got ${typed(apply(p))}")
      }
    }

    /** An `array<array<double>>` literal without NULL rows or elements. */
    def matrix(p: String): Array[Array[Double]] = {
      val v = value(p)
      apply(p).dataType match {
        case ArrayType(ArrayType(DoubleType, _), _) =>
          val rows = noNulls(p, v.asInstanceOf[ArrayData])
          Array.tabulate(rows.numElements())(i =>
            noNulls(p, rows.getArray(i)).toDoubleArray())
        case _ => fail(p, s"must be an array<array<double>> literal, got ${typed(apply(p))}")
      }
    }
  }

  /** Idempotent runtime registration into an existing session: registers
    * every table entry whose name the session does not know yet.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for (f <- natives) {
      val id = FunctionIdentifier(f.name)
      if (!registry.functionExists(id)) registry.registerFunction(id, f.info, f.builder)
    }
  }

  /** Column API: `cosineSim(a, b)` after `ensureRegistered`. */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Column API: `dotProduct(a, b)` after `ensureRegistered`. */
  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)

  /** Column API: n minhashes of k-char shingles, after `ensureRegistered`. */
  def minhashSigs(text: Column, k: Int, n: Int, seed: Long = 42L): Column =
    call_function("minhash_sigs", text, lit(k), lit(n), lit(seed))

  /** Column API: 48-bit md5-draw simhash of space-separated tokens (the
    * family is seedless — one md5 prefix per token, DuckDB-replayable).
    */
  def simhash64(text: Column): Column = call_function("simhash64", text)

  /** Column API: winnowed k-gram fingerprints, after `ensureRegistered`. */
  def winnowFps(text: Column, k: Int, w: Int): Column =
    call_function("winnow_fps", text, lit(k), lit(w))

  /** Column API: all char-n-grams in order, after `ensureRegistered`. */
  def charNgrams(text: Column, n: Int): Column =
    call_function("char_ngrams", text, lit(n))

  /** Column API: position-ordered k-gram md5-48 hashes, after
    * `ensureRegistered`.
    */
  def gramFps(text: Column, k: Int): Column = call_function("gram_fps", text, lit(k))

  /** Column API: `unicodeNorm(c, "NFC")` after `ensureRegistered`. */
  def unicodeNorm(c: Column, form: String = "NFC"): Column =
    call_function("unicode_norm", c, lit(form))

  /** Column API: frozen-quantizer argmax over a literal candidate
    * matrix, after `ensureRegistered` — see [[ArgmaxSim]].
    */
  def argmaxSim(v: Column, cosine: Boolean, offset: Int,
      ids: Seq[Int], mat: Seq[Seq[Double]]): Column =
    call_function("argmax_sim", v, lit(cosine), lit(offset),
      array(ids.map(lit): _*),
      array(mat.map(r => array(r.map(lit): _*)): _*))

  /** Column API: max token multiplicity of a string array, after
    * `ensureRegistered` — see [[TopTokenCount]].
    */
  def topTokenCount(arr: Column): Column = call_function("top_token_count", arr)
}

/** `spark.sql.extensions=graft.functions.GraftSessionExtensions` path
  * for deployments (injects at session build; no runtime call needed):
  * the same table `ensureRegistered` registers.
  */
class GraftSessionExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.natives.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
}
