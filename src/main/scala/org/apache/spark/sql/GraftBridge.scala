package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to `private[sql]` members: the Column ↔ Expression
  * converters — the supported way to expose a custom Catalyst Expression
  * through the public Column API in Spark 4's split-API world — and the
  * session state a driver-side file write needs. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The session's Hadoop conf with its SQL conf laid over it — the conf
    * a Spark write job hands its output writers. */
  def hadoopConf(sp: SparkSession): Configuration =
    sp.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** `body` with `sp` as the thread's active session, so `SQLConf.get`
    * reads its conf. */
  def withActive[T](sp: SparkSession)(body: => T): T = sp.withActive(body)
}
