package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Column ⇄ Catalyst-Expression bridge. Spark 4 moved classic `Column`
  * onto ColumnNode and made the converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so a library
  * defining native Catalyst expressions needs one file inside the
  * `org.apache.spark.sql` package namespace to lift them into Columns —
  * the same pattern public Spark extension libraries (Sedona, Delta,
  * Frameless) use. This is the ONLY file outside the `graft` namespace;
  * everything it exposes is a thin passthrough to `private[sql]` API. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `rows`, a `createDataFrame` over an RDD, with `origin`'s plan size
    * estimate instead of the unknown size Catalyst gives an RDD
    * (`spark.sql.defaultSizeInBytes`) — the `originStats` that
    * `Dataset.checkpoint` keeps for the same reason. */
  def withSizeOf(rows: DataFrame, origin: DataFrame): DataFrame =
    rows.queryExecution.logical match {
      case r: LogicalRDD =>
        val s = origin.queryExecution.optimizedPlan.stats
        val session = rows.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session,
          r.copy()(session, Some(Statistics(s.sizeInBytes, s.rowCount)), None))
    }
}
