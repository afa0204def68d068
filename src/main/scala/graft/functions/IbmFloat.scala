package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, FloatType}

/** IBM System/360 hexadecimal float32 → IEEE float, as a NATIVE Catalyst
  * expression with whole-stage codegen — the decode every real SEG-Y byte
  * reader needs (the reference delegates it to the `segy` PyPI package; the
  * format itself is public: sign bit, 7-bit excess-64 base-16 exponent,
  * 24-bit fraction).
  *
  * value = (−1)^sign × 0.fraction × 16^(exponent − 64)
  *
  * A UDF doing this would break codegen and box every row; this expression
  * inlines to a handful of integer ops + one multiply inside the generated
  * loop.
  */
object IbmFloatDecode {
  /** 16^(e − 64) for every 7-bit exponent e — the same doubles
    * `math.pow(16.0, e − 64)` returns (each is a power of two, exact).
    */
  private val Pow16: Array[Double] =
    Array.tabulate(128)(e => math.pow(16.0, (e - 64).toDouble))

  /** Scalar decode, shared by interpreted eval, the whole-trace decode
    * ([[SampleCodec.decode]]) and tests.
    */
  def decode(bits: Int): Float = {
    if ((bits & 0x7fffffff) == 0) return 0.0f
    val sign = if ((bits & 0x80000000) != 0) -1.0 else 1.0
    val fraction = (bits & 0x00ffffff).toDouble / 0x1000000.toDouble // 16^6 scale
    (sign * fraction * Pow16((bits >>> 24) & 0x7f)).toFloat
  }

  def apply(c: Column): Column =
    ColumnBridge.column(IbmFloat32(ColumnBridge.expression(c)))

  /** For SparkSessionExtensions.injectFunction. */
  val functionDescription: (org.apache.spark.sql.catalyst.FunctionIdentifier,
      ExpressionInfo, Seq[Expression] => Expression) = (
    new org.apache.spark.sql.catalyst.FunctionIdentifier("ibm_float32"),
    new ExpressionInfo(classOf[IbmFloat32].getName, "ibm_float32"),
    (children: Seq[Expression]) => IbmFloat32(children.head))
}

final case class IbmFloat32(child: Expression)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = FloatType
  override def prettyName: String = "ibm_float32"

  override protected def nullSafeEval(input: Any): Any =
    IbmFloatDecode.decode(input.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, bits => {
      s"""
         |int ibmBits = $bits;
         |if ((ibmBits & 0x7fffffff) == 0) {
         |  ${ev.value} = 0.0f;
         |} else {
         |  double ibmSign = ((ibmBits & 0x80000000) != 0) ? -1.0 : 1.0;
         |  int ibmExp = (ibmBits >>> 24) & 0x7f;
         |  double ibmFrac = (double)(ibmBits & 0x00ffffff) / 16777216.0;
         |  ${ev.value} = (float)(ibmSign * ibmFrac * java.lang.Math.pow(16.0, ibmExp - 64));
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): IbmFloat32 =
    copy(child = newChild)
}

/** IEEE float → IBM System/360 hexadecimal float32 bit pattern — the
  * ENCODE half of [[IbmFloat32]], needed to write format-1 SEG-Y files a
  * real reader accepts. Normalizes the base-16 exponent so the top hex
  * digit of the 24-bit fraction is non-zero (the canonical form every
  * public encoder emits; round-trips through [[IbmFloatDecode.decode]]
  * exactly for values IBM32 can represent). Out-of-range magnitudes clamp
  * to the largest/smallest representable, like the reference's underlying
  * C encoder.
  */
object IbmFloatEncode {
  /** Scalar encode, shared by the whole-trace encode
    * ([[SampleCodec.encodeFloats]]) and tests. Exponent derives
    * from the IEEE bit layout (`getExponent`/`scalb`), not a log — exact at
    * every power-of-16 boundary.
    */
  def encode(v: Float): Int = {
    if (v == 0.0f || java.lang.Float.isNaN(v)) return 0
    val sign = if (v < 0) 0x80000000 else 0
    val mag = math.abs(v.toDouble) // a float's magnitude is always a NORMAL double
    val p = Math.getExponent(mag) // floor(log2(mag)), exact
    var e = Math.floorDiv(p + 4, 4) // ceil((p+1)/4): 16^e·[1/16,1) covers mag
    var f24 = Math.round(Math.scalb(mag, 24 - 4 * e))
    if (f24 >= 0x1000000) { f24 >>= 4; e += 1 } // rounding carried past 1.0
    val biased = e + 64
    if (biased > 127) return sign | 0x7fffffff // clamp to max magnitude
    if (biased < 0) return 0 // underflow to zero
    sign | (biased << 24) | (f24.toInt & 0x00ffffff)
  }
}
