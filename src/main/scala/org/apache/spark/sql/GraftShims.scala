package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to sql-private Column↔Expression conversion (the classic
  * backend's ExpressionUtils), needed to expose a custom Catalyst
  * expression through the public Column API, and to the spark-private
  * listener bus. Lives in the org.apache.spark.sql package solely for
  * access; no Spark internals are modified.
  */
object GraftShims {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Block until every event posted to `sc`'s listener bus so far has
    * been delivered to every listener. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
