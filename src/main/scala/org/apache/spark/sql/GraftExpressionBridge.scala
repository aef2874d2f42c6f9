package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge into the sql-private Column ⇄ Expression converters for the
  * engine's plan-time-parameterized native expressions (e.g.
  * [[graft.functions.CellArgmax]], whose centroid table cannot ride a
  * SQL literal, so the session-extension `call_function` route is not
  * available). `classic.ExpressionUtils` is `private[sql]` at the
  * Scala level only — this object re-exports the two converters from
  * inside the package, the standard extension-point shim. It also
  * re-exports `internalCreateDataFrame`, for operators whose rows are
  * made outside Catalyst in its internal form
  * ([[graft.operators.NearDup.simhashPairs]]): `createDataFrame` over
  * `Row`s would box and convert every row again. */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def internalFrame(spark: SparkSession, rows: RDD[InternalRow],
                    schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
