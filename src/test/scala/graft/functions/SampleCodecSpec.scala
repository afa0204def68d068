package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Raw-bit exactness of the whole-trace sample codec against the
  * per-sample `transform` formulas it replaced, kept here as the
  * reference. Decode covers all six formats on random words plus the
  * words fixtures miss (NaN payloads, −0, IBM subnormals and overflow,
  * integer extremes); encode covers IBM32/IEEE32 with null samples. The
  * decoded column's Spark type — `containsNull` included — must match
  * the old formula's, or the parquet schema and the sidecar would move.
  */
class SampleCodecSpec extends SparkSpec {

  // ---- the per-sample formulas the kernels replaced ------------------

  import SampleCodecSpec._

  private def beInt(p: Column, i: Column): Column = BeIntAt(p, (i * 4).cast("int"), 4)

  private def oldDecode(p: Column, n: Int, fmt: Int): Column = {
    val idx = sequence(lit(0), lit(n - 1))
    fmt match {
      case 1 => transform(idx, i => IbmFloatDecode(beInt(p, i)))
      case 5 => transform(idx, i => elem(IeeeFloat32(expr(beInt(p, i)))))
      case 6 => transform(idx, i => BeDoubleAt(p, (i * 8).cast("int")))
      case _ =>
        val w = SampleCodec.bytesPerSample(fmt)
        transform(idx, i => BeIntAt(p, (i * w).cast("int"), w))
    }
  }

  private def oldEncode(s: Column, n: Int, ibm: Boolean): Column =
    BeIntArrayPack(
      transform(s, x => elem(if (ibm) IbmFloat32Enc(expr(x)) else FloatBitsExpr(expr(x)))),
      4, n, "sample", checked = false)

  // ---- fixtures --------------------------------------------------------

  private def words(fmt: Int): Seq[Long] = fmt match {
    case 1 => Seq(0x00000000L, 0x80000000L, 0x00000001L, 0x00ffffffL, 0x80000001L,
      0x000fffffL, 0x40000001L, 0x41100000L, 0xc1100000L, 0x7fffffffL, 0xffffffffL,
      0x20123456L, 0x3f800000L)
    case 5 => Seq(0x00000000L, 0x80000000L, 0x7fc00000L, 0x7fc00001L, 0xffa00000L,
      0x7f800001L, 0x7f800000L, 0xff800000L, 0x00000001L, 0x807fffffL, 0x3f800000L)
    case 6 => Seq(0L, 0x8000000000000000L, 0x7ff8000000000001L, 0xfff4000000000000L,
      0x7ff0000000000000L, 0xfff0000000000000L, 1L, 0x800fffffffffffffL,
      0x3ff0000000000000L)
    case 2 => Seq(0L, 0xffffffffL, 0x7fffffffL, 0x80000000L, 1L)
    case 3 => Seq(0L, 0xffffL, 0x7fffL, 0x8000L, 1L)
    case _ => Seq(0L, 0xffL, 0x7fL, 0x80L, 1L)
  }

  private def pack(ws: Seq[Long], w: Int): Array[Byte] =
    ws.flatMap(v => (0 until w).map(b => (v >>> (8 * (w - 1 - b))).toByte)).toArray

  /** Payloads of `n` samples: the edge words in one trace, the rest random. */
  private def payloads(fmt: Int, n: Int, traces: Int, seed: Long): Seq[Array[Byte]] = {
    val w = SampleCodec.bytesPerSample(fmt)
    val rnd = new scala.util.Random(seed)
    val edge = words(fmt)
    val first = pack(Seq.tabulate(n)(i => edge(i % edge.size)), w)
    first +: Seq.fill(traces - 1) {
      val b = new Array[Byte](n * w); rnd.nextBytes(b); b
    }
  }

  private def frame(ps: Seq[Array[Byte]], nullable: Boolean): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(ps.zipWithIndex.map { case (p, i) => Row(i, p) }, 2),
      StructType(Seq(StructField("id", IntegerType, nullable = false),
        StructField("p", BinaryType, nullable))))

  /** Raw bits of every element, so NaN payloads and −0 compare exactly. */
  private def bits(v: Any): Any = v match {
    case f: Float => java.lang.Float.floatToRawIntBits(f)
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.toSeq.map(bits)
    case a: Array[_] => a.toSeq.map(bits)
    case o => o
  }

  private def collectBits(df: DataFrame): Seq[(Int, Any)] =
    df.collect().map(r => (r.getInt(0), bits(r.get(1)))).sortBy(_._1).toSeq

  private val n = 13

  Seq(1, 2, 3, 5, 6, 8).foreach { fmt =>
    test(s"format $fmt: whole-trace decode is raw-bit equal to the per-sample formula") {
      val df = frame(payloads(fmt, n, 40, 7000L + fmt), nullable = false)
      val got = df.select(col("id"), SampleCodec.decodeColumn(col("p"), n, fmt))
      val want = df.select(col("id"), oldDecode(col("p"), n, fmt))
      assert(collectBits(got) == collectBits(want))
      // interpreted evaluation agrees too
      payloads(fmt, n, 5, 7100L + fmt).foreach { p =>
        val k = SampleDecodeExpr(Literal(p, BinaryType), n, fmt).eval(InternalRow.empty)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val ref = spark.range(1).select(oldDecode(lit(p), n, fmt)).head().get(0)
        assert(bits(k.toSeq[Any](SampleCodec.elementType(fmt))) == bits(ref))
      }
    }
  }

  test("decoded column type matches the per-sample formula, containsNull included") {
    Seq(true, false).foreach { nullable =>
      val df = frame(payloads(1, n, 2, 1L), nullable)
      Seq(1, 2, 3, 5, 6, 8).foreach { fmt =>
        val newType = df.select(SampleCodec.decodeColumn(col("p"), n, fmt).as("v")).schema("v")
        val oldType = df.select(oldDecode(col("p"), n, fmt).as("v")).schema("v")
        assert(newType == oldType, s"format $fmt, nullable payload $nullable")
      }
    }
    // the non-raw DSv2 scan declares the same element types
    Seq(1, 2, 3, 5, 6, 8).foreach { fmt =>
      assert(graft.sources.SegyDataSourceV2.sampleType(fmt, raw = false) ==
        ArrayType(SampleCodec.elementType(fmt), containsNull = false))
    }
  }

  test("a null payload decodes to nSamples nulls, as the per-sample formula did") {
    val df = frame(Seq(null, payloads(5, n, 1, 2L).head), nullable = true)
    val got = df.select(col("id"), SampleCodec.decodeColumn(col("p"), n, 5))
    val want = df.select(col("id"), oldDecode(col("p"), n, 5))
    assert(collectBits(got) == collectBits(want))
    assert(got.collect().sortBy(_.getInt(0)).head.getSeq[Any](1) == Seq.fill(n)(null))
  }

  test("a payload shorter than the trace fails loudly in both formulas") {
    Seq(1, 3, 6).foreach { fmt =>
      val short = new Array[Byte](n * SampleCodec.bytesPerSample(fmt) - 1)
      val df = frame(Seq(short), nullable = false)
      val e = intercept[Exception](
        df.select(SampleCodec.decodeColumn(col("p"), n, fmt)).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("the trace needs")), e.toString)
      intercept[Exception](df.select(oldDecode(col("p"), n, fmt)).collect())
    }
  }

  test("format codes outside 1/2/3/5/6/8 fail when the column is built") {
    Seq(0, 4, 7).foreach { fmt =>
      intercept[IllegalArgumentException](SampleCodec.decodeColumn(col("p"), n, fmt))
    }
  }

  test("IBM32 and IEEE32 whole-trace encode is byte-equal to the per-sample formula") {
    val rnd = new scala.util.Random(31L)
    val edge = Seq[java.lang.Float](0.0f, -0.0f, java.lang.Float.MIN_VALUE,
      -java.lang.Float.MIN_VALUE, java.lang.Float.intBitsToFloat(0x7fc00001),
      Float.PositiveInfinity, Float.NegativeInfinity, Float.MaxValue, 1e-30f,
      java.lang.Float.intBitsToFloat(0x00000003), 3.0e38f, 1.0f, -1.0f, null)
    val traces: Seq[Seq[java.lang.Float]] = edge +: Seq.fill(30)(
      Seq.fill(edge.size)(java.lang.Float.valueOf(
        java.lang.Float.intBitsToFloat(rnd.nextInt()))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        traces.zipWithIndex.map { case (t, i) => Row(i, t) }, 2),
      StructType(Seq(StructField("id", IntegerType, nullable = false),
        StructField("s", ArrayType(FloatType, containsNull = true)))))
    Seq(true, false).foreach { ibm =>
      val got = df.select(col("id"),
        SampleCodec.encodeFloatsColumn(col("s"), ibm, edge.size, "sample"))
      val want = df.select(col("id"), oldEncode(col("s"), edge.size, ibm))
      def rows(d: DataFrame) = d.collect().map(r =>
        (r.getInt(0), r.getAs[Array[Byte]](1).toSeq)).sortBy(_._1).toSeq
      assert(rows(got) == rows(want), s"ibm=$ibm")
    }
    // a ragged trace fails loudly in the new kernel, a null trace stays null
    val e = intercept[Exception](df.select(
      SampleCodec.encodeFloatsColumn(col("s"), ibm = true, edge.size + 1, "ibm32 sample")).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("ibm32 sample: expected")), e.toString)
    val nul = spark.range(1).select(lit(null).cast("array<float>").as("s"))
      .select(SampleCodec.encodeFloatsColumn(col("s"), ibm = true, 2, "x"))
    assert(nul.head().isNullAt(0))
  }

  test("the encode kernel rejects non-float arrays at analysis") {
    val e = intercept[Exception](spark.range(1)
      .select(array(lit(1.0), lit(2.0)).as("s"))
      .select(SampleCodec.encodeFloatsColumn(col("s"), ibm = true, 2, "x")).schema)
    assert(e.getMessage.contains("array<float>"), e.getMessage)
  }
}

/** The per-sample expressions of the replaced formulas, as they evaluated
  * inside the `transform` lambda (interpreted).
  */
object SampleCodecSpec {
  def expr(c: Column): Expression = ColumnBridge.expression(c)
  def elem(e: Expression): Column = ColumnBridge.column(e)

  /** IEEE-754 bit pattern → float32. */
  final case class IeeeFloat32(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = FloatType
    override protected def nullSafeEval(input: Any): Any =
      java.lang.Float.intBitsToFloat(input.asInstanceOf[Int])
    override protected def withNewChildInternal(c: Expression): IeeeFloat32 = copy(child = c)
  }

  /** float32 → IBM32 bit pattern. */
  final case class IbmFloat32Enc(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(input: Any): Any =
      IbmFloatEncode.encode(input.asInstanceOf[Float])
    override protected def withNewChildInternal(c: Expression): IbmFloat32Enc = copy(child = c)
  }

  /** float32 → raw IEEE bits. */
  final case class FloatBitsExpr(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(input: Any): Any =
      java.lang.Float.floatToRawIntBits(input.asInstanceOf[Float])
    override protected def withNewChildInternal(c: Expression): FloatBitsExpr = copy(child = c)
  }
}
