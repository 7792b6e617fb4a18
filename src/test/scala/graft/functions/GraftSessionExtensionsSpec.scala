package graft.functions

import org.apache.spark.sql.InjectedFunctions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.SparkSpec

/** The `spark.sql.extensions` path and runtime registration read the one
  * `GraftFunctions.natives` table: same names, same `ExpressionInfo`
  * classes, the very same builder objects.
  */
class GraftSessionExtensionsSpec extends SparkSpec {

  private val names = GraftFunctions.natives.map(_.name)

  test("the table declares each of the ten native functions once") {
    assert(names.sorted == Seq("argmax_sim", "char_ngrams", "cosine_sim",
      "dot_product", "gram_fps", "minhash_sigs", "simhash64",
      "top_token_count", "unicode_norm", "winnow_fps"))
  }

  test("GraftSessionExtensions injects exactly the names and builders ensureRegistered registers") {
    val injected = InjectedFunctions.registry(new GraftSessionExtensions)
    GraftFunctions.ensureRegistered(spark)
    val session = spark.sessionState.functionRegistry
    assert(injected.listFunction().map(_.funcName).sorted == names.sorted)
    for (n <- names) {
      val id = FunctionIdentifier(n)
      assert(injected.lookupFunctionBuilder(id).get eq
        session.lookupFunctionBuilder(id).get, n)
      assert(injected.lookupFunction(id).get.getClassName ==
        session.lookupFunction(id).get.getClassName, n)
    }
  }

  test("every table name resolves from spark.sql after ensureRegistered") {
    GraftFunctions.ensureRegistered(spark)
    for (f <- GraftFunctions.natives) {
      val described = spark.sql(s"DESCRIBE FUNCTION ${f.name}")
        .collect().map(_.getString(0))
      assert(described.contains(s"Class: ${f.expr.getCanonicalName}"),
        described.mkString("\n"))
    }
  }
}
