package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for aggregations whose hot keys overwhelm single
  * shuffle partitions at scale. AQE's skew-join splitting (on by default)
  * handles skewed joins at runtime; explicit salting remains the tool when
  * a single group key dominates an aggregation.
  */
object Skew {

  private val SaltCol = "__graft_salt"

  /** Salted two-phase aggregation for skewed group keys: partial aggregate
    * on (key, salt), then final aggregate on key. Use when a single group
    * key dominates and map-side combine alone leaves one reducer hot —
    * `sumCol` is re-aggregated with the matching merge function.
    */
  def saltedSum(df: DataFrame, key: String, sumCol: String, salts: Int): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    df.withColumn(SaltCol, pmod(xxhash64(monotonically_increasing_id()), lit(salts.toLong)))
      .groupBy(col(key), col(SaltCol))
      .agg(sum(sumCol).as(sumCol), count(lit(1)).as("__cnt"))
      .groupBy(col(key))
      .agg(sum(sumCol).as(s"sum_$sumCol"), sum("__cnt").as("cnt"))
  }
}
