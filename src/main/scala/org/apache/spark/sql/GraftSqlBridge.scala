package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion for graft's
  * own Catalyst expressions (Spark 4 wraps Column around ColumnNode;
  * `classic.ExpressionUtils` is the sanctioned classic-backend path).
  * Lives in `org.apache.spark.sql` solely to satisfy the access scope —
  * the one place this library reaches into Spark internals.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Collision-free session identity (`sessionUUID` is `private[sql]`);
    * an identityHashCode can be reissued to a new session after the old
    * one is GC'd, a UUID cannot.
    */
  def sessionUUID(spark: SparkSession): String = spark match {
    case c: classic.SparkSession => c.sessionUUID
    case s => s"idhash-${System.identityHashCode(s)}"
  }
}
