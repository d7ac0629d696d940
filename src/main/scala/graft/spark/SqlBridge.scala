// Lives in the org.apache.spark.sql package to reach the private[sql]
// Column ⇄ Expression conversions (the sanctioned pattern for external
// Catalyst extensions on Spark 4, where Column wraps a ColumnNode).
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

object GraftSqlBridge {
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** Unique id of a session (private[sql] on the classic implementation;
    * SessionCache keys on it — identityHashCode can collide with a stopped
    * session's and hand out plans bound to a dead SparkContext). */
  def sessionUUID(s: SparkSession): Option[String] = s match {
    case c: classic.SparkSession => Some(c.sessionUUID)
    case _ => None
  }

  /** Test hook: deliver ApplicationEnd to registered listeners WITHOUT
    * stopping the shared context (the listener bus is private[spark]).
    * SessionCacheSpec drives the session-end cleanup path through this —
    * actually stopping the one test SparkContext would kill every other
    * suite in the JVM. */
  def fireApplicationEnd(s: SparkSession): Unit = {
    s.sparkContext.listenerBus.post(
      org.apache.spark.scheduler.SparkListenerApplicationEnd(System.currentTimeMillis()))
    drainListenerBus(s)
  }

  /** Test hook: block until every event posted so far has reached the
    * listeners, so a count a listener keeps is complete. */
  def drainListenerBus(s: SparkSession): Unit = s.sparkContext.listenerBus.waitUntilEmpty()

  /** Test hook: how many registered bus listeners have `nameFragment` in
    * their class name — SessionCacheSpec pins that invalidate-then-df
    * cycles never accumulate listeners on the shared context. */
  def listenerCount(s: SparkSession, nameFragment: String): Int = {
    import scala.jdk.CollectionConverters._
    s.sparkContext.listenerBus.listeners.asScala
      .count(_.getClass.getName.contains(nameFragment))
  }
}
