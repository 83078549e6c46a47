package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to `private[sql]` Column<->Expression conversion (Spark 4 moved
  * it behind `classic.ExpressionUtils`). Compiled into the sql package —
  * the standard pattern for libraries shipping custom Catalyst
  * expressions without a SparkSessionExtensions registration round-trip.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The RDD a `checkpoint()`/`localCheckpoint()` result scans (its `LogicalRDD`). */
  def checkpointedRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.get

  /** Register a temp function builder on a live session (the function
    * registry sits behind `private[sql] sessionState`). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
