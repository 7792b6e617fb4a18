package graft.functions

import org.apache.spark.sql.InjectedFunctions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.functions.{array, lit}

import graft.SparkSpec

/** The auto-loaded extension is the one registration path, and it reads
  * the one `GraftFunctions.natives` table: same names, same
  * `ExpressionInfo` classes, the very same builder objects, in every
  * session Spark builds.
  */
class GraftSessionExtensionsSpec extends SparkSpec {

  private val names = GraftFunctions.natives.map(_.name)

  test("the table declares each of the ten native functions once") {
    assert(names.sorted == Seq("argmax_sim", "char_ngrams", "cosine_sim",
      "dot_product", "gram_fps", "minhash_sigs", "simhash64",
      "top_token_count", "unicode_norm", "winnow_fps"))
  }

  test("GraftSessionExtensions injects exactly the natives table, as the live session holds it") {
    val injected = InjectedFunctions.registry(new GraftSessionExtensions)
    val session = spark.sessionState.functionRegistry
    assert(injected.listFunction().map(_.funcName).sorted == names.sorted)
    for (f <- GraftFunctions.natives) {
      val id = FunctionIdentifier(f.name)
      assert(injected.lookupFunctionBuilder(id).get eq f.builder, f.name)
      assert(session.lookupFunctionBuilder(id).get eq f.builder, f.name)
      assert(injected.lookupFunction(id).get.getClassName == f.info.getClassName, f.name)
      assert(session.lookupFunction(id).get.getClassName == f.info.getClassName, f.name)
    }
  }

  test("every table name resolves from spark.sql") {
    for (f <- GraftFunctions.natives) {
      val described = spark.sql(s"DESCRIBE FUNCTION ${f.name}")
        .collect().map(_.getString(0))
      assert(described.contains(s"Class: ${f.expr.getCanonicalName}"),
        described.mkString("\n"))
    }
  }

  test("a fresh session resolves every native with no registration call") {
    // the injection overrides a same-named function, so the provider is
    // only safe while no native name is a Spark builtin
    for (n <- names)
      assert(!FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)), n)
    val fresh = spark.newSession()
    for (f <- GraftFunctions.natives) {
      val described = fresh.sql(s"DESCRIBE FUNCTION ${f.name}")
        .collect().map(_.getString(0))
      assert(described.contains(s"Class: ${f.expr.getCanonicalName}"),
        described.mkString("\n"))
    }
    val v = array(lit(3.0f), lit(4.0f))
    def eval(session: org.apache.spark.sql.SparkSession) = session.range(1)
      .select(GraftFunctions.cosineSim(v, v), GraftFunctions.simhash64(lit("a b c")))
      .head()
    val row = eval(fresh)
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    assert(row == eval(spark))
  }
}
