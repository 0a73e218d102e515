package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Minimal bridge to `private[sql]` members: the Column ↔ Expression
  * converters — the supported way to expose a custom Catalyst Expression
  * through the public Column API in Spark 4's split-API world — and a
  * frame over rows already in Catalyst's own form. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A frame over `rows`, which must match `schema` field for field. */
  def frame(sp: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    sp.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
