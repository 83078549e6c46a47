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

  /** A copy of `spark`'s session state (confs, temp views, functions)
    * over the same SparkContext, which later writes on either side do
    * not reach (`cloneSession` is `private[sql]`). */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `ds`'s analyzed plan bound to `spark`: the same rows, planned and
    * started under `spark`'s confs. */
  def withSession[T](ds: Dataset[T], spark: SparkSession): Dataset[T] =
    classic.Dataset[T](spark.asInstanceOf[classic.SparkSession],
      ds.asInstanceOf[classic.Dataset[T]].logicalPlan)(ds.encoder)

  /** Register a temp function builder on a live session (the function
    * registry sits behind `private[sql] sessionState`). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
