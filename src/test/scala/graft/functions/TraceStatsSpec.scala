package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Differential exactness of the one-pass trace statistics kernel
  * ([[TraceStatsExpr]], behind `Stats.ingestStatsAggs`) against the
  * per-sample higher-order formula it replaced — kept HERE ONLY, as the
  * reference: `filter` out null and ±0, then `aggregate` each sample's
  * DECIMAL(28, 6) cast and square into a DECIMAL(28, 6) accumulator.
  * Seeded random float, double and int traces (nulls, ±0, subnormals,
  * integer-valued floats, values on and next to a 7th-decimal tie) plus
  * the edge cases whose old results were recorded before the change must
  * agree exactly, row by row and after Spark's merge. The one intended
  * divergence — NaN/±Inf now fail by name — is pinned separately.
  */
class TraceStatsSpec extends SparkSpec {

  // ---- the reference: the per-sample formula the kernel replaced ------

  private def oldTrace(x: Column): Seq[Column] = {
    val elems = filter(x, e => e.isNotNull && e =!= 0.0f)
    val zero = lit(0).cast(DecimalType(28, 6))
    def decSum(f: Column => Column) =
      aggregate(elems, zero,
        (acc, e) => (acc + f(e.cast(DecimalType(28, 6)))).cast(DecimalType(28, 6)))
    Seq(coalesce(size(elems), lit(0)).cast("long"), array_min(elems),
      array_max(elems), decSum(identity), decSum(e => e * e), size(x))
  }

  private def oldAggs(x: Column): Seq[Column] = {
    val Seq(n, lo, hi, s, sq, len) = oldTrace(x)
    Seq(sum(n), min(lo).cast("double"), max(hi).cast("double"),
      sum(s).cast("string").cast("double"), sum(sq).cast("string").cast("double"),
      max(len).cast("long"))
  }

  private def newTrace(x: Column): Seq[Column] = {
    val t = TraceStats(x)
    Seq("n", "min", "max", "sum", "sumsq", "len").map(t(_))
  }

  private def newAggs(x: Column): Seq[Column] = {
    val (n, lo, hi, s, sq, len) = graft.operators.Stats.ingestStatsAggs(x, isArray = true)
    Seq(n, lo, hi, s, sq) ++ len
  }

  // ---- fixtures --------------------------------------------------------

  private def frame(traces: Seq[Seq[Any]], elem: DataType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        traces.zipWithIndex.map { case (t, i) => Row(i, t) }, 3),
      StructType(Seq(StructField("id", IntegerType, nullable = false),
        StructField("x", ArrayType(elem, containsNull = true)))))

  /** Values exercised by every numeric path of the kernel. */
  private def value(rnd: scala.util.Random): Double = rnd.nextInt(10) match {
    case 0 => 0.0
    case 1 => rnd.nextGaussian() * 3
    case 2 => (rnd.nextInt(2000001) - 1000000).toDouble // integer-valued
    case 3 => (rnd.nextInt(2000001) - 1000000 + 0.5) / 1e6 // on a 7th-decimal tie
    case 4 => (rnd.nextInt(2000001) - 1000000 + 0.5) / 1e6 + (rnd.nextInt(3) - 1) * 1e-13
    case 5 => math.pow(10, rnd.nextDouble() * 18 - 10) * (if (rnd.nextBoolean()) 1 else -1)
    case 6 => java.lang.Double.longBitsToDouble(rnd.nextLong() & 0x000fffffffffffffL) // subnormal
    case 7 => (rnd.nextInt(4000) - 2000) / 1e6 // exact 6-decimal values
    case 8 => rnd.nextDouble() * 4e9 - 2e9
    case _ => rnd.nextGaussian() * 1e4
  }

  private def traces(rnd: scala.util.Random, n: Int, conv: Double => Any): Seq[Seq[Any]] =
    Seq.fill(n) {
      if (rnd.nextInt(25) == 0) null
      else Seq.fill(rnd.nextInt(40)) {
        if (rnd.nextInt(15) == 0) null else conv(value(rnd))
      }
    }

  /** Floats and doubles by raw bits; decimals by value AND scale. */
  private def norm(v: Any): Any = v match {
    case f: Float => ("f", java.lang.Float.floatToRawIntBits(f))
    case d: Double => ("d", java.lang.Double.doubleToRawLongBits(d))
    case o => o
  }

  private def perTrace(df: DataFrame, cols: Seq[Column]): Seq[Seq[Any]] =
    df.select(col("id") +: cols: _*).collect().sortBy(_.getInt(0))
      .map(r => (1 until r.length).map(i => norm(r.get(i)))).toSeq

  private def assertSame(df: DataFrame): Unit = {
    assert(perTrace(df, newTrace(col("x"))) == perTrace(df, oldTrace(col("x"))))
    val got = df.agg(newAggs(col("x")).head, newAggs(col("x")).tail: _*).head().toSeq.map(norm)
    val want = df.agg(oldAggs(col("x")).head, oldAggs(col("x")).tail: _*).head().toSeq.map(norm)
    assert(got == want)
  }

  private def chain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  // ---- seeded differential cases ---------------------------------------

  test("seeded random float traces: kernel == per-sample formula, per trace and merged") {
    (0 until 4).foreach { s =>
      assertSame(frame(traces(new scala.util.Random(8100L + s), 150, _.toFloat), FloatType))
    }
  }

  test("seeded random double traces: kernel == per-sample formula, per trace and merged") {
    (0 until 4).foreach { s =>
      assertSame(frame(traces(new scala.util.Random(8200L + s), 150, identity), DoubleType))
    }
  }

  test("seeded random int traces: kernel == per-sample formula, per trace and merged") {
    (0 until 3).foreach { s =>
      val rnd = new scala.util.Random(8300L + s)
      val ts = Seq.fill(150)(Seq.fill(rnd.nextInt(40))(
        if (rnd.nextInt(15) == 0) null
        else if (rnd.nextBoolean()) rnd.nextInt() else rnd.nextInt(65536) - 32768))
      assertSame(frame(ts, IntegerType))
    }
  }

  test("short and long element types match the per-sample formula") {
    val rnd = new scala.util.Random(8400L)
    assertSame(frame(Seq.fill(60)(Seq.fill(rnd.nextInt(30))(
      (rnd.nextInt(65536) - 32768).toShort)), ShortType))
    assertSame(frame(Seq.fill(60)(Seq.fill(rnd.nextInt(30))(
      rnd.nextLong() % 3000000000L)), LongType))
  }

  test("interpreted evaluation equals the compiled one") {
    val rnd = new scala.util.Random(8500L)
    val ts = traces(rnd, 40, identity)
    val compiled = perTrace(frame(ts, DoubleType), newTrace(col("x")))
    val interpreted = ts.map { t =>
      val r = TraceStatsExpr(Literal.create(t, ArrayType(DoubleType)))
        .eval(InternalRow.empty).asInstanceOf[InternalRow]
      TraceStats.resultType(DoubleType).fields.indices.map { i =>
        norm(if (r.isNullAt(i)) null
        else r.get(i, TraceStats.resultType(DoubleType)(i).dataType) match {
          case d: Decimal => d.toJavaBigDecimal
          case o => o
        })
      }
    }
    assert(interpreted == compiled)
  }

  // ---- recorded edge cases ---------------------------------------------

  private def one(t: Seq[Any], elem: DataType = DoubleType): Row =
    frame(Seq(t), elem).select(newTrace(col("x")): _*).head()

  private def dec(s: String) = new java.math.BigDecimal(s).setScale(6)

  test("edge cases: null array, [], null and ±0 elements, sub-rounding values") {
    val edge: Seq[Seq[Any]] = Seq(null, Seq(), Seq(1.5, null), Seq(0.0, -0.0, 2.0),
      Seq(1.4e-45), Seq(5e-7, 1.5e-6, -5e-7), Seq.fill(10)(1e6))
    assertSame(frame(edge, DoubleType))
    assertSame(frame(edge.map(t => if (t == null) null else t.map {
      case d: Double => d.toFloat; case o => o }), FloatType))

    val nul = one(null)
    assert(nul.getLong(0) == 0L, "a null trace counts 0, never null")
    assert((1 to 4).forall(nul.isNullAt) && nul.isNullAt(5))
    val empty = one(Seq())
    assert(empty.getLong(0) == 0L && empty.isNullAt(1) && empty.isNullAt(2))
    assert(empty.getDecimal(3) == dec("0") && empty.getDecimal(4) == dec("0"))
    assert(empty.getInt(5) == 0)
    assert(one(Seq(1.5, null)).getLong(0) == 1L)
    assert(one(Seq(0.0, -0.0, 2.0)).getLong(0) == 1L)
    val tiny = one(Seq(1.4e-45f), FloatType)
    assert(tiny.getLong(0) == 1L && tiny.getDecimal(3) == dec("0"))
    val half = frame(Seq(Seq(5e-7, 1.5e-6, -5e-7)), DoubleType)
      .agg(newAggs(col("x")).head, newAggs(col("x")).tail: _*).head()
    assert(half.getDouble(3) == 2.0e-6 && half.getDouble(4) == 0.0)
    // Σx² = 10¹³ has an unscaled value of 10¹⁹: beyond a long, inside DECIMAL(28, 6)
    val big = frame(Seq(Seq.fill(10)(1e6)), DoubleType)
      .agg(newAggs(col("x")).head, newAggs(col("x")).tail: _*).head()
    assert(big.getDouble(3) == 1.0e7 && big.getDouble(4) == 1.0e13)
  }

  test("edge cases: sums beyond DECIMAL(28, 6) fail with NUMERIC_VALUE_OUT_OF_RANGE in both") {
    val cases = Seq(Seq(1e12), Seq(1e15), Seq(1e23), Seq(-1e23, 1.0)).map(_ -> DoubleType) ++
      Seq(Seq(Long.MinValue), Seq(Long.MaxValue)).map(_ -> LongType)
    cases.foreach { case (t, elem) =>
      Seq(newTrace _, oldTrace _).foreach { f =>
        val e = intercept[Exception](frame(Seq(t), elem).select(f(col("x")): _*).collect())
        assert(chain(e).exists(_.getMessage.contains("NUMERIC_VALUE_OUT_OF_RANGE")), e.toString)
      }
    }
  }

  // ---- the intended divergence: non-finite samples ---------------------

  test("NaN and ±Inf samples fail by name with value and position; the old formula dropped them") {
    // what the per-sample formula did: counted the trace, NaN min/max, null sums
    val old = frame(Seq(Seq(Double.NaN)), DoubleType).select(oldTrace(col("x")): _*).head()
    assert(old.getLong(0) == 1L && old.getDouble(1).isNaN && old.isNullAt(3) && old.isNullAt(4))

    Seq((Seq(Double.NaN), 1), (Seq(1.0, Double.PositiveInfinity), 2),
        (Seq(0.0, null, 2.5, Double.NegativeInfinity), 4)).foreach { case (t, pos) =>
      Seq(DoubleType, FloatType).foreach { elem =>
        val typed = if (elem == FloatType) t.map {
          case d: Double => d.toFloat; case o => o } else t
        val e = intercept[Exception](
          frame(Seq(typed), elem).agg(newAggs(col("x")).head).collect())
        val err = chain(e).collectFirst { case n: NonFiniteSampleError => n }
        assert(err.isDefined, e.toString)
        assert(err.get.position == pos && err.get.traceLength == t.size)
        val want = t(pos - 1).asInstanceOf[Double]
        assert(err.get.value.equals(want), s"${err.get.value} vs $want")
        assert(err.get.getMessage.contains(s"position $pos"))
      }
    }
  }

  test("non-numeric arrays are rejected at analysis") {
    val e = intercept[Exception](spark.range(1)
      .select(array(lit("a")).as("x")).select(TraceStats(col("x"))).schema)
    assert(e.getMessage.contains("trace_stats"), e.getMessage)
  }
}
