package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.DataType

/** Row-local lookup of a key in a driver-held, metadata-sized table: the
  * probe side of a broadcast hash join, without the job a broadcast
  * exchange runs to collect its build side in every plan that reads it.
  * The table rides the expression, so Spark ships it once per executor
  * with the task binary (the reference-object pattern of [[BloomExprs]]).
  * Keys match as in a null-safe equi-join: a null key finds the table's
  * null-key entry, and float keys compare with -0.0 equal to 0.0.
  */
object KeyLookup {

  /** The value `entries` holds for `key`, or null when it holds none.
    * Entries are external values (as a collected Row gives them) of
    * `keyType` → `valueType`; `key` must be of `keyType`. */
  def apply(key: Column, entries: Seq[(Any, Any)], keyType: DataType,
            valueType: DataType): Column = {
    val (k, v) = (CatalystTypeConverters.createToCatalystConverter(keyType),
      CatalystTypeConverters.createToCatalystConverter(valueType))
    ColumnBridge.column(KeyLookupExpr(ColumnBridge.expression(key),
      entries.map { case (a, b) => normalize(k(a)) -> v(b) }.toMap, valueType))
  }

  private[functions] def normalize(key: Any): Any = key match {
    case d: java.lang.Double if d.doubleValue == 0.0 => 0.0
    case f: java.lang.Float if f.floatValue == 0.0f => 0.0f
    case other => other
  }
}

/** `lookup(key)` over a table of internal values; null when absent. */
final case class KeyLookupExpr(child: Expression, table: Map[Any, Any],
                               dataType: DataType)
  extends UnaryExpression with CodegenFallback {

  override def nullable: Boolean = true
  override def prettyName: String = "key_lookup"

  override def eval(input: InternalRow): Any =
    table.getOrElse(KeyLookup.normalize(child.eval(input)), null)

  override protected def withNewChildInternal(c: Expression): KeyLookupExpr =
    copy(child = c)
}
