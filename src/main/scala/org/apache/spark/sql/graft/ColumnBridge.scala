package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the sql-package-private Column↔Expression converters, so custom
  * native expressions (graft.functions.*) can expose a typed Column API.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge to Spark's sql-package-private decimal precision check, so a
  * native kernel rounds and overflows exactly as a DECIMAL cast does:
  * HALF_UP to `scale`, and NUMERIC_VALUE_OUT_OF_RANGE (never null) when
  * the value needs more than `precision` digits.
  */
object DecimalBridge {
  def toPrecision(d: org.apache.spark.sql.types.Decimal, precision: Int,
                  scale: Int): org.apache.spark.sql.types.Decimal =
    d.toPrecision(precision, scale, org.apache.spark.sql.types.Decimal.ROUND_HALF_UP,
      nullOnOverflow = false)
}
