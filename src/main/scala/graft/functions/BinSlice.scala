package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, IntegerType, LongType}

/** Big-endian integer at a byte offset of a binary column — the word decode
  * of the SEG-Y byte reader ([[graft.sources.SegyRead]]), as a NATIVE
  * Catalyst expression. The previous decode path round-tripped every word
  * through `conv(hex(substring(...)))` — two transient strings per sample
  * word; this expression reads the bytes directly inside the generated loop
  * (an array index and three shifts for a 4-byte word).
  *
  * `width` ∈ {1, 2, 4} and `signed` are compile-time properties of the file
  * layout (SEG-Y sample formats 8/3/2 and the 2-/4-byte header fields;
  * reference geometry in `segy/file.py:152-186`), so they are case-class
  * fields, not child expressions — the codegen specializes per width.
  */
object BeIntAt {
  /** Scalar decode, shared by interpreted eval and tests. */
  def decode(bytes: Array[Byte], off: Int, width: Int, signed: Boolean): Int = {
    var v = 0
    var i = 0
    while (i < width) { v = (v << 8) | (bytes(off + i) & 0xff); i += 1 }
    if (signed && width < 4) {
      val shift = 32 - 8 * width
      (v << shift) >> shift
    } else v
  }

  def apply(bin: Column, pos: Column, width: Int, signed: Boolean = true): Column =
    ColumnBridge.column(BeIntAtExpr(
      ColumnBridge.expression(bin), ColumnBridge.expression(pos), width, signed))
}

final case class BeIntAtExpr(bin: Expression, pos: Expression,
                             width: Int, signed: Boolean)
    extends BinaryExpression with Serializable {
  require(width == 1 || width == 2 || width == 4,
    s"big-endian int width must be 1, 2 or 4 bytes, got $width")

  override def left: Expression = bin
  override def right: Expression = pos
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (bin.dataType == BinaryType && pos.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"be_int_at expects (binary, int), got (${bin.dataType}, ${pos.dataType})")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "be_int_at"

  override protected def nullSafeEval(b: Any, p: Any): Any =
    BeIntAt.decode(b.asInstanceOf[Array[Byte]], p.asInstanceOf[Int], width, signed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, p) => {
      // unrolled per-width big-endian assembly straight off the byte array
      val raw = width match {
        case 4 => s"((($b[$p] & 0xff) << 24) | (($b[$p + 1] & 0xff) << 16) | " +
          s"(($b[$p + 2] & 0xff) << 8) | ($b[$p + 3] & 0xff))"
        case 2 =>
          if (signed) s"(int)(short)((($b[$p] & 0xff) << 8) | ($b[$p + 1] & 0xff))"
          else s"((($b[$p] & 0xff) << 8) | ($b[$p + 1] & 0xff))"
        case 1 =>
          if (signed) s"(int)$b[$p]" else s"($b[$p] & 0xff)"
      }
      s"${ev.value} = $raw;"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BeIntAtExpr =
    copy(bin = newLeft, pos = newRight)
}

/** Big-endian IEEE float64 at a byte offset of a binary column — the sample
  * word of SEG-Y format 6 (rev-2 float64 data; reference delegates these to
  * the `segy` package's format table, `segy/file.py:152-186`). Same native
  * byte-array access as [[BeIntAtExpr]]: eight loads and shifts assemble
  * the long, `longBitsToDouble` reinterprets — no transient strings, stays
  * inside whole-stage codegen.
  */
object BeDoubleAt {
  /** Scalar decode, shared by interpreted eval and tests. */
  def decode(bytes: Array[Byte], off: Int): Double = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (bytes(off + i) & 0xffL); i += 1 }
    java.lang.Double.longBitsToDouble(v)
  }

  def apply(bin: Column, pos: Column): Column =
    ColumnBridge.column(BeDoubleAtExpr(
      ColumnBridge.expression(bin), ColumnBridge.expression(pos)))
}

final case class BeDoubleAtExpr(bin: Expression, pos: Expression)
    extends BinaryExpression with Serializable {

  override def left: Expression = bin
  override def right: Expression = pos
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (bin.dataType == BinaryType && pos.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"be_double_at expects (binary, int), got (${bin.dataType}, ${pos.dataType})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "be_double_at"

  override protected def nullSafeEval(b: Any, p: Any): Any =
    BeDoubleAt.decode(b.asInstanceOf[Array[Byte]], p.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, p) => {
      val bits = ctx.freshName("bits")
      val assemble = (0 until 8).map(i =>
        s"((long)($b[$p + $i] & 0xff) << ${8 * (7 - i)})").mkString(" | ")
      s"""long $bits = $assemble;
         |${ev.value} = java.lang.Double.longBitsToDouble($bits);""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BeDoubleAtExpr =
    copy(bin = newLeft, pos = newRight)
}

/** `Double.doubleToRawLongBits` as a native expression — the encode dual of
  * [[BeDoubleAtExpr]] (raw bits, so even NaN payloads round-trip
  * bit-exactly); the caller packs the long big-endian ([[BeBytesPack]]).
  */
object DoubleBits {
  def apply(c: Column): Column =
    ColumnBridge.column(DoubleBitsExpr(ColumnBridge.expression(c)))
}

final case class DoubleBitsExpr(child: Expression)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = LongType
  override def prettyName: String = "double_bits"

  override protected def nullSafeEval(input: Any): Any =
    java.lang.Double.doubleToRawLongBits(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d =>
      s"${ev.value} = java.lang.Double.doubleToRawLongBits($d);")

  override protected def withNewChildInternal(newChild: Expression): DoubleBitsExpr =
    copy(child = newChild)
}

/** Big-endian byte packing of a long — the NATIVE encode dual of
  * [[BeIntAtExpr]]. The export paths previously rendered every word
  * through `to_binary(lpad(hex(x)))` — three transient strings per value,
  * measured as the dominant job of the SEG-Y round-trips; this expression
  * writes the bytes directly inside the generated loop.
  *
  * `checked = true` enforces the field's declared range (signed or
  * unsigned at `width` bytes) and fails LOUDLY with the field name —
  * identical contract to the writer's overflow rule (a 70000 in a 2-byte
  * slot must never wrap to 4464). `checked = false` packs the low bytes
  * (the raw-header path's documented mask semantics).
  */
object BeBytesPack {
  def encode(v: Long, width: Int, unsigned: Boolean, checked: Boolean,
             name: String): Array[Byte] = {
    // width-8 unsigned admits every 64-bit pattern (the long IS the
    // unsigned value's bit image), so there is nothing to check - a signed
    // comparison against the 2^64-1 sentinel (-1L) would wrongly reject
    // every value
    if (checked && !(unsigned && width == 8)) {
      val lo = if (unsigned) 0L else -(1L << (width * 8 - 1))
      val hi = if (unsigned) (1L << (width * 8)) - 1
               else (1L << (width * 8 - 1)) - 1
      if (v < lo || v > hi)
        throw new IllegalArgumentException(
          s"$name value $v overflows the $width-byte header field (range $lo..$hi)")
    }
    val out = new Array[Byte](width)
    var i = 0
    while (i < width) {
      out(i) = ((v >>> (8 * (width - 1 - i))) & 0xff).toByte
      i += 1
    }
    out
  }

  def apply(c: Column, width: Int, name: String, unsigned: Boolean = false,
            checked: Boolean = true): Column =
    ColumnBridge.column(BeBytesPackExpr(
      ColumnBridge.expression(c), width, unsigned, checked, name))
}

final case class BeBytesPackExpr(child: Expression, width: Int,
                                 unsigned: Boolean, checked: Boolean,
                                 name: String)
    extends UnaryExpression with Serializable {
  require(width == 1 || width == 2 || width == 4 || width == 8,
    s"big-endian pack width must be 1, 2, 4 or 8 bytes, got $width")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"be_bytes_pack expects bigint, got ${child.dataType}")
  override def dataType: DataType = BinaryType
  override def prettyName: String = "be_bytes_pack"

  def kernel(v: Long): Array[Byte] =
    BeBytesPack.encode(v, width, unsigned, checked, name)

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bepackself", this, classOf[BeBytesPackExpr].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.kernel($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): BeBytesPackExpr =
    copy(child = newChild)
}

/** An `array<int>` sample vector packed big-endian at `width` bytes per
  * element in ONE kernel — the payload encoder of the SEG-Y export sink
  * for the integer formats 2/3/8 (its float sibling for formats 1/5 is
  * [[FloatArrayPackExpr]]).
  * Enforces the file's fixed sample count (`expectLen`; SEG-Y records are
  * fixed-length, a ragged array must fail at encode, not corrupt the
  * file), and per-element range when `checked` (widths below 4 bytes).
  */
object BeIntArrayPack {
  def apply(c: Column, width: Int, expectLen: Int, name: String,
            checked: Boolean = true): Column =
    ColumnBridge.column(BeIntArrayPackExpr(
      ColumnBridge.expression(c), width, expectLen, checked, name))
}

final case class BeIntArrayPackExpr(child: Expression, width: Int,
                                    expectLen: Int, checked: Boolean,
                                    name: String)
    extends UnaryExpression with Serializable {
  require(width == 1 || width == 2 || width == 4,
    s"sample width must be 1, 2 or 4 bytes, got $width")
  require(expectLen >= 1, s"expectLen must be >= 1, got $expectLen")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"be_int_array_pack expects array<int>, got $t")
    }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "be_int_array_pack"

  def kernel(in: org.apache.spark.sql.catalyst.util.ArrayData): Array[Byte] = {
    val n = in.numElements()
    if (n != expectLen)
      throw new IllegalArgumentException(
        s"$name: expected $expectLen samples per trace, got $n " +
          "(SEG-Y records are fixed-length)")
    val lo = -(1L << (width * 8 - 1))
    val hi = (1L << (width * 8 - 1)) - 1
    val out = new Array[Byte](n * width)
    var i = 0
    while (i < n) {
      val v = in.getInt(i)
      if (checked && width < 4 && (v < lo || v > hi))
        throw new IllegalArgumentException(
          s"$name value $v overflows the $width-byte sample (range $lo..$hi)")
      var b = 0
      while (b < width) {
        out(i * width + b) = ((v >>> (8 * (width - 1 - b))) & 0xff).toByte
        b += 1
      }
      i += 1
    }
    out
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("beapackself", this, classOf[BeIntArrayPackExpr].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.kernel($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): BeIntArrayPackExpr =
    copy(child = newChild)
}
