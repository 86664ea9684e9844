package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression→Column bridge. Spark 4 made `Column` a Connect-compatible
  * wrapper; turning a raw Catalyst [[Expression]] into a usable Column
  * goes through `classic.ExpressionUtils`, which is `private[sql]` —
  * hence this one shim object living in the `org.apache.spark.sql`
  * package (the standard extension-library pattern; no Spark internals
  * are modified).
  */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Runtime registration of the engine's SQL functions on an already-
    * built session (the config-time path is
    * `spark.sql.extensions=graft.GraftExtensions`). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Blocks until the listener bus has delivered every posted event, so
    * counters a listener keeps are complete when read
    * (`waitUntilEmpty` is `private[spark]`). */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
