package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** The ONE SEG-Y sample codec: every supported format's whole-trace
  * decode and the float formats' whole-trace encode, each one compiled
  * loop per trace. The DSv2 scan ([[graft.sources.SegyDataSourceV2]])
  * calls [[SampleCodec.decode]] on its record buffer; the column API
  * ([[graft.sources.SegyRead.decodeSamples]]) wraps the same loop as
  * [[SampleDecodeExpr]]; the export sink packs float samples with
  * [[FloatArrayPackExpr]]. Spark higher-order functions (`transform`)
  * are interpreted once per ELEMENT — one lambda call, one boxed value
  * and one interpreted child tree per sample — which is what these
  * kernels replace.
  *
  * Formats (binary-header code → element): 1 IBM32 → float,
  * 5 IEEE32 → float, 6 IEEE64 → double, 2 int32 / 3 int16 / 8 int8 →
  * int (signed big-endian). Decode is raw-bit exact: IEEE words keep
  * their NaN payloads and −0, IBM words go through
  * [[IbmFloatDecode.decode]].
  */
object SampleCodec {

  /** Bytes per sample for the standard binary-header format code. */
  def bytesPerSample(formatCode: Int): Int = formatCode match {
    case 1 | 2 | 5 => 4
    case 3 => 2
    case 6 => 8
    case 8 => 1
    case 4 => throw new IllegalArgumentException(
      "SEG-Y sample format 4 (obsolete fixed-point with gain code) is not " +
        "supported — re-export the file as format 1 (IBM32), 5 (IEEE32) " +
        "or 6 (IEEE64)")
    case c => throw new IllegalArgumentException(
      s"unsupported SEG-Y sample format code $c (supported: 1, 2, 3, 5, 6, 8)")
  }

  /** The decoded element type of a format code. */
  def elementType(formatCode: Int): DataType = {
    bytesPerSample(formatCode) // validates the code
    formatCode match {
      case 1 | 5 => FloatType
      case 6 => DoubleType
      case _ => IntegerType
    }
  }

  /** Decode `nSamples` samples of format `formatCode` starting at byte
    * `off` of `payload` into a dense primitive array. A payload shorter
    * than the trace fails loudly: SEG-Y records are fixed-length, so a
    * short one is a truncated or mis-declared file, never a shorter trace.
    */
  def decode(payload: Array[Byte], off: Int, nSamples: Int,
             formatCode: Int): ArrayData = {
    val w = bytesPerSample(formatCode)
    val need = nSamples.toLong * w
    if (payload.length - off < need)
      throw new IllegalArgumentException(
        s"sample payload holds ${payload.length - off} bytes, the trace needs " +
          s"$need ($nSamples format-$formatCode samples of $w bytes)")
    formatCode match {
      case 1 | 5 =>
        val out = new Array[Float](nSamples)
        val ibm = formatCode == 1
        var s = 0
        var o = off
        while (s < nSamples) {
          val bits = ((payload(o) & 0xff) << 24) | ((payload(o + 1) & 0xff) << 16) |
            ((payload(o + 2) & 0xff) << 8) | (payload(o + 3) & 0xff)
          out(s) =
            if (ibm) IbmFloatDecode.decode(bits)
            else java.lang.Float.intBitsToFloat(bits)
          s += 1
          o += 4
        }
        UnsafeArrayData.fromPrimitiveArray(out)
      case 6 =>
        val out = new Array[Double](nSamples)
        var s = 0
        while (s < nSamples) {
          out(s) = BeDoubleAt.decode(payload, off + s * 8)
          s += 1
        }
        UnsafeArrayData.fromPrimitiveArray(out)
      case _ =>
        val out = new Array[Int](nSamples)
        var s = 0
        while (s < nSamples) {
          out(s) = BeIntAt.decode(payload, off + s * w, w, signed = true)
          s += 1
        }
        UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** Pack an `array<float>` trace as big-endian 32-bit words: IBM32
    * ([[IbmFloatEncode.encode]]) when `ibm`, else the float's raw IEEE
    * bits (NaN payloads survive). A null sample packs as the zero word.
    * The sample count is fixed per file; a ragged trace fails here
    * instead of corrupting the record layout.
    */
  def encodeFloats(samples: ArrayData, ibm: Boolean, expectLen: Int,
                   name: String): Array[Byte] = {
    val n = samples.numElements()
    if (n != expectLen)
      throw new IllegalArgumentException(
        s"$name: expected $expectLen samples per trace, got $n " +
          "(SEG-Y records are fixed-length)")
    val out = new Array[Byte](n * 4)
    var i = 0
    while (i < n) {
      val v =
        if (samples.isNullAt(i)) 0
        else if (ibm) IbmFloatEncode.encode(samples.getFloat(i))
        else java.lang.Float.floatToRawIntBits(samples.getFloat(i))
      val o = i * 4
      out(o) = (v >>> 24).toByte
      out(o + 1) = (v >>> 16).toByte
      out(o + 2) = (v >>> 8).toByte
      out(o + 3) = v.toByte
      i += 1
    }
    out
  }

  /** `binary` payload → decoded samples (see [[SampleDecodeExpr]]). */
  def decodeColumn(payload: Column, nSamples: Int, formatCode: Int): Column =
    ColumnBridge.column(SampleDecodeExpr(
      ColumnBridge.expression(payload), nSamples, formatCode))

  /** `array<float>` → packed IBM32 (`ibm`) or IEEE32 payload. */
  def encodeFloatsColumn(samples: Column, ibm: Boolean, nSamples: Int,
                         name: String): Column =
    ColumnBridge.column(FloatArrayPackExpr(
      ColumnBridge.expression(samples), ibm, nSamples, name))
}

/** Whole-trace decode of a raw sample payload, one node. The result type
  * is the one the per-sample `transform(sequence(0, n-1), ...)` formula
  * had: a non-null array whose `containsNull` follows the payload's
  * nullability, and a null payload decodes to `nSamples` nulls.
  */
final case class SampleDecodeExpr(child: Expression, nSamples: Int,
                                  formatCode: Int)
    extends UnaryExpression with Serializable {
  require(nSamples >= 1, s"nSamples must be >= 1, got $nSamples")
  SampleCodec.bytesPerSample(formatCode) // validates the code at plan time

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects binary, got ${child.dataType}")

  override def dataType: DataType =
    ArrayType(SampleCodec.elementType(formatCode), containsNull = child.nullable)
  override def nullable: Boolean = false
  override def prettyName: String = "segy_decode_samples"

  def kernel(payload: Array[Byte]): ArrayData =
    if (payload == null) new GenericArrayData(new Array[Any](nSamples))
    else SampleCodec.decode(payload, 0, nSamples, formatCode)

  override def eval(input: InternalRow): Any =
    kernel(child.eval(input).asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("decodeself", this, classOf[SampleDecodeExpr].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |ArrayData ${ev.value} = $ref.kernel(${c.isNull} ? null : ${c.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): SampleDecodeExpr =
    copy(child = c)
}

/** Whole-trace float encode, one node: the `array<float>` sibling of
  * [[BeIntArrayPackExpr]] for SEG-Y formats 1 (IBM32) and 5 (IEEE32).
  */
final case class FloatArrayPackExpr(child: Expression, ibm: Boolean,
                                    expectLen: Int, name: String)
    extends UnaryExpression with Serializable {
  require(expectLen >= 1, s"expectLen must be >= 1, got $expectLen")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<float>, got $t")
    }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "segy_pack_floats"

  def kernel(in: ArrayData): Array[Byte] =
    SampleCodec.encodeFloats(in, ibm, expectLen, name)

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fpackself", this, classOf[FloatArrayPackExpr].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.kernel($in);")
  }

  override protected def withNewChildInternal(c: Expression): FloatArrayPackExpr =
    copy(child = c)
}
