package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The `private[sql]` doors an extension needs: turning a hand-built
  * [[LogicalPlan]] back into a [[DataFrame]], and a hand-built
  * [[Expression]] into a [[Column]] (and back). Spark's own extension API
  * (SparkSessionExtensions) lets libraries inject custom strategies,
  * rules and functions but offers no public constructor for a DataFrame
  * over a custom logical node or a Column over a custom expression, so
  * ecosystem libraries (GraphFrames, the various spark-extension
  * packages) place exactly this shim inside the `org.apache.spark.sql`
  * namespace. Nothing else in the engine reaches into Spark internals
  * this way — keep it that small.
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A Column over `e` — no function registry involved, so it works on a
    * session where no extension was installed. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The expression `c` spells, converted now (not deferred to the
    * Dataset it lands in), so a literal argument reaches a node builder
    * as a foldable [[org.apache.spark.sql.catalyst.expressions.Literal]]. */
  def expression(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)
}
