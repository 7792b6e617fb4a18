package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

/** Column references by literal name. Ad exports name their columns freely
  * (`Avg. CPC`, `지출 금액 (KRW)`), and Polars takes every name as written;
  * Spark's `col(name)` and `df(name)` parse a dot as a struct-field access
  * and a backtick as a quote. Every reference the ETL builds from a name it
  * read from a file or a config goes through [[named]].
  */
object Columns {

  /** The column called exactly `name`: back-quoted, with each backtick in it
    * doubled (Spark's quoted-identifier escape).
    */
  def named(name: String): Column = col("`" + name.replace("`", "``") + "`")
}
