package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to sql-private Column↔Expression conversion (the classic
  * backend's ExpressionUtils), needed to expose a custom Catalyst
  * expression through the public Column API, to the spark-private
  * listener bus, and to a session's job artifact scope. Lives in the
  * org.apache.spark.sql package solely for access; no Spark internals
  * are modified.
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

  /** Run `body` with `spark`'s job artifact state active, as its SQL
    * actions do. A job started outside any action takes the state of
    * the session that planned its stages instead: for a cached frame's
    * stages, the session Spark clones at each `persist`. Every new state
    * gets its own executor class loader, and Spark's codegen cache is
    * keyed on the class loader, so those stages recompile on every
    * call. */
  def withSessionArtifacts[T](spark: SparkSession)(body: => T): T =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .artifactManager.withResources(body)
}
