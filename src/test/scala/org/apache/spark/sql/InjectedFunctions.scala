package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}

/** Test-only view of what a `SparkSessionExtensions` configurator injects:
  * `SparkSessionExtensions.registerFunctions` is `private[sql]`, so this
  * lives in Spark's package. No session is built.
  */
object InjectedFunctions {

  /** A fresh registry holding exactly the functions `configure` injects. */
  def registry(configure: SparkSessionExtensions => Unit): FunctionRegistry = {
    val ext = new SparkSessionExtensions
    configure(ext)
    ext.registerFunctions(new SimpleFunctionRegistry)
  }
}
