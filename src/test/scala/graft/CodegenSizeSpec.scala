package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

import graft.etl.{Configs, Fixtures, MultiSourceAdEtl}

/** Every whole-stage-codegen stage compiles under HotSpot's 8,000-byte
  * `DontCompileHugeMethods` limit. A generated method past the limit is
  * never JIT-compiled, so its stage runs interpreted on every row. Covered:
  * every registered entry at sf0.001 and the five shipped pipelines over
  * `fixtures/`, planned with AQE off so the whole physical plan (stages of
  * subqueries and of persisted inputs included) exists before execution.
  * There is no exemption list.
  */
class CodegenSizeSpec extends SparkSpec {

  private val Limit = 8000

  /** Every codegen stage of `plan`: its subqueries and the cached plans of
    * the persisted frames it scans included.
    */
  private def stages(plan: SparkPlan): Seq[WholeStageCodegenExec] =
    plan.collectWithSubqueries {
      case w: WholeStageCodegenExec => Seq(w)
      case m: InMemoryTableScanExec => stages(m.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => stages(a.executedPlan)
    }.flatten

  /** `maxMethodCodeSize` of each stage of `df`, compiled as Spark compiles it. */
  private def methodSizes(df: DataFrame): Seq[Int] =
    stages(df.queryExecution.executedPlan).map { w =>
      CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize
    }

  private def withoutAqe[T](body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** One line per stage at or over the limit, or per entry that fails to
    * build (a stage that cannot be planned cannot be measured).
    */
  private def oversized(entries: Seq[(String, () => DataFrame)]): Seq[String] =
    withoutAqe {
      entries.flatMap { case (name, build) =>
        try {
          val sizes = methodSizes(build())
          sizes.zipWithIndex.collect { case (n, i) if n >= Limit =>
            s"$name: stage ${i + 1} of ${sizes.size} has a $n-byte method (limit $Limit)"
          }
        } catch {
          case e: Exception => Seq(s"$name: could not be planned: $e")
        } finally spark.catalog.clearCache()
      }
    }

  test("the measure sees an oversized stage (64 inlined regex chains in one projection)") {
    val wide = (0 until 64).map(i =>
      when(regexp_replace(col("id").cast("string"), s"$i+", "x").rlike("x"), lit(i))
        .otherwise(lit(-i)))
    val df = spark.range(4).select(array(wide: _*).as("a"))
    assert(withoutAqe(methodSizes(df)).max >= Limit)
  }

  test("every registered entry's codegen stages compile under 8,000 bytes at sf0.001") {
    val sf = TestSpark.sf0001
    try {
      val bad = oversized(SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
        name -> (() => q(spark, sf))
      })
      assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
    } finally {
      SparkEntry.cleanup(spark, sf)
    }
  }

  test("the five shipped pipelines' codegen stages compile under 8,000 bytes") {
    val bad = oversized(Configs.all.toSeq.sortBy(_._1).map { case (name, (cfg, capitalize)) =>
      name -> (() => new MultiSourceAdEtl(cfg).run(spark, Fixtures.dir(name), capitalize))
    })
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }
}
