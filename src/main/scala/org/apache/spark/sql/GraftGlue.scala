package org.apache.spark.sql

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SQLExecution

/** Bridge into the `private[sql]` Column <-> Expression converters so the
  * graft library can register custom Catalyst expressions as Columns,
  * and into the few `private[spark]` members it needs (the parsed
  * session conf, a row-at-a-time collect, a blocking broadcast destroy).
  * Lives in org.apache.spark.sql purely for access; contains no logic.
  */
object GraftGlue {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `spark.sql.autoBroadcastJoinThreshold` of `s` in bytes (-1: off). */
  def autoBroadcastJoinThreshold(s: SparkSession): Long =
    s.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /** Runs `df` as one SQL query and hands `f` its row count and its
    * rows, decoded one at a time from the collected bytes: no `Row` and
    * no boxed field per row, and at most one decoded row alive at a time
    * unless `f` keeps them.
    */
  def collectRows[T](df: DataFrame)(f: (Long, Iterator[InternalRow]) => T): T = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val (n, rows) = qe.executedPlan.executeCollectIterator()
      f(n, rows)
    }
  }

  /** Removes `b`'s blocks everywhere before returning. */
  def destroyNow(b: Broadcast[_]): Unit = b.destroy(blocking = true)

  /** `AbstractDataType` is `private[sql]` at the Scala level (public in
    * bytecode), so expressions outside this package cannot name it in an
    * `ExpectsInputTypes.inputTypes` signature — this public alias is the
    * sanctioned spelling.
    */
  type SqlAbstractDataType = org.apache.spark.sql.types.AbstractDataType
}
