package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.{ColumnBridge, DecimalBridge}
import org.apache.spark.sql.types._

/** A NaN or ±Inf sample met by the ingest statistics. Such a value has no
  * DECIMAL image, so it cannot enter the exact sums; recording the trace
  * without it would silently drop the trace's sums from the totals.
  * `position` is 1-based within the trace.
  */
final class NonFiniteSampleError(val value: Double, val position: Int, val traceLength: Int)
    extends ArithmeticException(
      s"non-finite sample $value at position $position of a $traceLength-sample " +
        "trace: ingest statistics need finite amplitudes")

/** Per-trace summary statistics in ONE pass over the samples — the
  * per-block partials of the reference's ingest workers
  * (`segy/_workers.py:179-194`) computed per trace, which Spark's own
  * `sum`/`min`/`max` then merge. See [[TraceStatsExpr]].
  */
object TraceStats {

  val SumType: DecimalType = DecimalType(28, 6)

  def resultType(element: DataType): StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("min", element),
    StructField("max", element),
    StructField("sum", SumType),
    StructField("sumsq", SumType),
    StructField("len", IntegerType)))

  /** `array<numeric>` → struct<n, min, max, sum, sumsq, len>. */
  def apply(samples: Column): Column =
    ColumnBridge.column(TraceStatsExpr(ColumnBridge.expression(samples)))

  // integral fast path: |k| ≤ 3·10⁶ keeps k²·10⁶ below 2⁶³
  private val IntegralMax = 3000000L
  // fractional fast path: |x·10⁶| < 2³¹, at least TieMargin from a tie
  private val FracMax = 2147483648.0
  private val TieMargin = 1e-6

  /** Exact DECIMAL(28, 6) accumulator. Unscaled longs while the running
    * value fits a long — a long is below 10²⁸, so no prefix can overflow
    * the type — then Spark's own [[Decimal]] arithmetic, whose every step
    * is re-checked against DECIMAL(28, 6) exactly as the cast inside the
    * per-sample fold did.
    */
  private final class Dec6Acc {
    private var small = 0L
    private var big: Decimal = null

    def add(u: Long): Unit =
      if (big == null) {
        val r = small + u
        if (((small ^ r) & (u ^ r)) < 0) { promote(); add(Decimal(u, 20, 6)) }
        else small = r
      } else add(Decimal(u, 20, 6))

    def add(d: Decimal): Unit = {
      promote()
      big = DecimalBridge.toPrecision(big + d, 28, 6)
    }

    private def promote(): Unit =
      if (big == null) big = Decimal(java.math.BigDecimal.valueOf(small, 6))

    def result: Decimal =
      if (big == null) Decimal(small, 28, 6)
      else big
  }

  /** Fold one trace. `kind`: 0 float, 1 double, 2 byte, 3 short, 4 int,
    * 5 long. Null and zero (±0) samples are skipped; every other sample
    * counts, sets min/max and adds its DECIMAL(28, 6) value and rounded
    * square to the sums.
    */
  def fold(a: ArrayData, kind: Int): InternalRow = {
    if (a == null) return new GenericInternalRow(Array[Any](0L, null, null, null, null, null))
    val len = a.numElements()
    val sum = new Dec6Acc
    val sumsq = new Dec6Acc
    var n = 0L
    var dLo = Double.PositiveInfinity
    var dHi = Double.NegativeInfinity
    var lLo = Long.MaxValue
    var lHi = Long.MinValue

    def addIntegral(k: Long): Unit =
      if (k >= -IntegralMax && k <= IntegralMax) {
        sum.add(k * 1000000L)
        sumsq.add(k * k * 1000000L)
      } else addDecimal(Decimal(k))

    def addDecimal(d: Decimal): Unit = {
      val e = DecimalBridge.toPrecision(d, 28, 6)
      sum.add(e)
      sumsq.add(DecimalBridge.toPrecision(e * e, 38, 6))
    }

    var i = 0
    while (i < len) {
      if (!a.isNullAt(i)) {
        if (kind >= 2) {
          val k = kind match {
            case 2 => a.getByte(i).toLong
            case 3 => a.getShort(i).toLong
            case 4 => a.getInt(i).toLong
            case _ => a.getLong(i)
          }
          if (k != 0L) {
            n += 1
            if (k < lLo) lLo = k
            if (k > lHi) lHi = k
            addIntegral(k)
          }
        } else {
          val x = if (kind == 0) a.getFloat(i).toDouble else a.getDouble(i)
          if (x != 0.0) {
            if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x))
              throw new NonFiniteSampleError(x, i + 1, len)
            n += 1
            if (x < dLo) dLo = x
            if (x > dHi) dHi = x
            if (x == math.rint(x) && math.abs(x) <= IntegralMax) addIntegral(x.toLong)
            else {
              // The cast rounds HALF_UP the shortest decimal s of x
              // (Double.toString). For |t| = |x·10⁶| < 2³¹,
              // |s·10⁶ − t| ≤ 10⁶·ulp(x)/2 + ulp(t)/2 < 4·10⁻⁷, so a t
              // further than TieMargin from a .5 tie rounds to the same
              // integer as s·10⁶ does. The square of that exact value
              // u·10⁻⁶ rounds HALF_UP at scale 6 to (u² + 5·10⁵) / 10⁶.
              val t = x * 1e6
              val at = math.abs(t)
              val fl = math.floor(at)
              val d = at - fl - 0.5
              if (at < FracMax && (d > TieMargin || d < -TieMargin)) {
                val m = if (d > 0) fl.toLong + 1 else fl.toLong
                sum.add(if (t < 0) -m else m)
                sumsq.add((m * m + 500000L) / 1000000L)
              } else addDecimal(Decimal(x))
            }
          }
        }
      }
      i += 1
    }
    val (lo, hi): (Any, Any) =
      if (n == 0) (null, null)
      else kind match {
        case 0 => (dLo.toFloat, dHi.toFloat)
        case 1 => (dLo, dHi)
        case 2 => (lLo.toByte, lHi.toByte)
        case 3 => (lLo.toShort, lHi.toShort)
        case 4 => (lLo.toInt, lHi.toInt)
        case _ => (lLo, lHi)
      }
    new GenericInternalRow(Array[Any](n, lo, hi, sum.result, sumsq.result, len))
  }
}

/** Per-trace statistics of a numeric sample array in one compiled loop:
  * struct<n: non-zero count, min, max (element type), sum and sum of
  * squares (DECIMAL(28, 6)), len: array length>. The values are the ones
  * the per-sample formula gives — `filter` out null and ±0, then fold
  * each sample's DECIMAL(28, 6) cast (and its DECIMAL(38, 6) square)
  * into a DECIMAL(28, 6) accumulator, failing with
  * NUMERIC_VALUE_OUT_OF_RANGE when a step overflows — except that a NaN
  * or ±Inf sample raises [[NonFiniteSampleError]] instead of turning the
  * trace's sums null. A null array gives n = 0 and nulls elsewhere.
  */
final case class TraceStatsExpr(child: Expression)
    extends UnaryExpression with Serializable {

  private def elementType: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case t => t
  }

  override def checkInputDataTypes(): TypeCheckResult = elementType match {
    case FloatType | DoubleType | ByteType | ShortType | IntegerType | LongType
        if child.dataType.isInstanceOf[ArrayType] =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an array of float, double or integers, got ${child.dataType}")
  }

  override def dataType: DataType = TraceStats.resultType(elementType)
  override def nullable: Boolean = false
  override def prettyName: String = "trace_stats"

  @transient private lazy val kind: Int = elementType match {
    case FloatType => 0
    case DoubleType => 1
    case ByteType => 2
    case ShortType => 3
    case IntegerType => 4
    case _ => 5
  }

  def kernel(a: ArrayData): InternalRow = TraceStats.fold(a, kind)

  override def eval(input: InternalRow): Any =
    kernel(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("statsself", this, classOf[TraceStatsExpr].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |InternalRow ${ev.value} = $ref.kernel(${c.isNull} ? null : ${c.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): TraceStatsExpr =
    copy(child = c)
}
