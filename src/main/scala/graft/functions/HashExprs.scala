package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the [[CrossHash]] sketch kernels.
  *
  * The minhash/simhash inner loops are O(shingles × k) per row — as
  * interpreted higher-order-function pipelines (round 2) they dominated the
  * bench (10.3 s for the LSH query at sf0.1). Each expression here runs the
  * whole loop as one tight JVM kernel per row and participates in whole-stage
  * codegen via a static call (Scala objects emit static forwarders), so the
  * surrounding projection stays a single generated loop.
  */
object CrossHashExprs {
  /** string → long: scalar md5-60, value-identical to the column formula
    * `conv(substring(md5(x),1,15),16,10).cast("long")` (the [[CrossHash]]
    * cross-engine contract) but computed digest-to-long in one kernel — no
    * 32-char hex rendering, no base-16 string parse, no decimal cast. The
    * interpreted pipeline was the whole map-side cost of the sketch/sample
    * operators (HLL registers, CMS buckets, hash sampling, shuffle keys).
    */
  def md5h60(c: Column): Column =
    ColumnBridge.column(Md5H60Expr(ColumnBridge.expression(c)))

  /** array<string> → array<long>: per-element md5-60. */
  def md5h60Array(c: Column): Column =
    ColumnBridge.column(Md5H60Array(ColumnBridge.expression(c)))

  /** array<string> tokens → array<long>: distinct md5-60 hashes of the
    * space-joined word n-grams. One kernel instead of the interpreted
    * transform(slice→concat_ws)+array_distinct+hash pipeline, which was
    * ~20× the cost of everything else in the near-dup queries.
    */
  def shingleHashes(tokens: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashExpr(ColumnBridge.expression(tokens), n))

  /** array<string> tokens → array<long>: md5-60 hashes of the space-joined
    * word n-grams at EVERY position, in order and without dedup — index i
    * is the gram starting at token i (strict: a doc shorter than n tokens
    * has no grams). The positional sibling of [[shingleHashes]], for
    * span-level operators that need to map a duplicated gram back to where
    * it sits in the document.
    */
  def gramHashes(tokens: Column, n: Int): Column =
    ColumnBridge.column(GramHashExpr(ColumnBridge.expression(tokens), n))

  /** array<long> shingle hashes → k-long minhash signature. */
  def minhashSig(c: Column, k: Int): Column =
    ColumnBridge.column(MinhashSigExpr(ColumnBridge.expression(c), k))

  /** array<long> token hashes → simhash fingerprint (`bits` ≤ 60). */
  def simhash(c: Column, bits: Int = 60): Column =
    ColumnBridge.column(SimhashExpr(ColumnBridge.expression(c), bits))

  /** Count of agreeing positions between two minhash signatures. */
  def sigAgree(a: Column, b: Column): Column =
    ColumnBridge.column(SigAgreeExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** string → array<long>: distinct winnowing fingerprints (window-min of
    * per-position char k-gram md5-60 hashes). */
  def winnowFps(c: Column, kChars: Int, window: Int): Column =
    ColumnBridge.column(WinnowExpr(ColumnBridge.expression(c), kChars, window))
}

/** Scalar md5-60 (see [[CrossHashExprs.md5h60]]); codegen is a static call
  * into [[CrossHash]] so the surrounding projection stays one generated
  * loop.
  */
final case class Md5H60Expr(child: Expression)
    extends UnaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_h60"

  override protected def nullSafeEval(input: Any): Any =
    CrossHash.md5h60(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.CrossHash.md5h60($in.getBytes());")

  override protected def withNewChildInternal(newChild: Expression): Md5H60Expr =
    copy(child = newChild)
}

final case class Md5H60Array(child: Expression)
    extends UnaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_h60_array"

  /** Kernel shared by eval and codegen. */
  def kernel(in: ArrayData): ArrayData = {
    val n = in.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = CrossHash.md5h60(in.getUTF8String(i).getBytes)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("md5h60self", this, classOf[Md5H60Array].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.kernel($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Md5H60Array =
    copy(child = newChild)
}

/** Distinct md5-60 hashes of word n-gram shingles, from a token array.
  * Matches `array_distinct(transform(starts, i => concat_ws(" ",
  * slice(tokens, i, n))))` hashed element-wise: n-grams start at every
  * position up to max(numTokens − n + 1, 1) (an under-length tail — or an
  * empty token list — yields one short/empty shingle), joined with a single
  * space, deduplicated by first occurrence. Dedup is on the hash value,
  * which the md5-collision-free assumption makes identical to string dedup.
  */
final case class GramHashExpr(child: Expression, n: Int)
    extends UnaryExpression with Serializable {
  require(n >= 1, "gram size must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hashes"

  def kernel(in: ArrayData): ArrayData = {
    val m = in.numElements()
    val starts = math.max(m - n + 1, 0)
    val out = new Array[Long](starts)
    var i = 0
    while (i < starts) {
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < i + n) {
        if (j > i) sb.append(' ')
        sb.append(in.getUTF8String(j).toString)
        j += 1
      }
      out(i) = CrossHash.md5h60(sb.toString.getBytes("UTF-8"))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gramself", this, classOf[GramHashExpr].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.kernel($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): GramHashExpr =
    copy(child = newChild)
}

final case class ShingleHashExpr(child: Expression, n: Int)
    extends UnaryExpression with Serializable {
  require(n >= 1, "shingle size must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  def kernel(in: ArrayData): ArrayData = {
    val m = in.numElements()
    val starts = math.max(m - n + 1, 1)
    val seen = new java.util.HashSet[java.lang.Long](starts * 2)
    val out = new scala.collection.mutable.ArrayBuffer[Long](starts)
    var i = 0
    while (i < starts) {
      val sb = new java.lang.StringBuilder
      var j = i
      val end = math.min(i + n, m)
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(in.getUTF8String(j).toString)
        j += 1
      }
      val h = CrossHash.md5h60(sb.toString.getBytes("UTF-8"))
      if (seen.add(h)) out += h
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleself", this, classOf[ShingleHashExpr].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.kernel($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashExpr =
    copy(child = newChild)
}

final case class MinhashSigExpr(child: Expression, k: Int)
    extends UnaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  @transient private lazy val (as, cs) = {
    val consts = CrossHash.minhashConstants(k)
    (consts.map(_._1).toArray, consts.map(_._2).toArray)
  }

  def kernel(in: ArrayData): ArrayData =
    new GenericArrayData(CrossHash.minhashSig(in.toLongArray(), as, cs))

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashself", this, classOf[MinhashSigExpr].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.kernel($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
}

final case class SimhashExpr(child: Expression, bits: Int)
    extends UnaryExpression with Serializable {
  require(bits > 0 && bits <= 60, "simhash bits must be in 1..60 (md5-60 inputs)")
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash"

  def kernel(in: ArrayData): Long = CrossHash.simhash(in.toLongArray(), bits)

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhashself", this, classOf[SimhashExpr].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.kernel($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashExpr =
    copy(child = newChild)
}

/** Agreeing-position count between two equal-length long signatures — the
  * minhash Jaccard estimate's numerator. Replaces the last interpreted
  * `aggregate(zip_with(...))` fold in the near-dup pair stage (linear over
  * k, but interpreted per candidate pair); same left-to-right visit order,
  * integer result, so the estimate is bit-identical. Mismatched lengths
  * throw (two signatures from different k never estimate anything).
  */
final case class SigAgreeExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with Serializable {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sig_agree"

  def kernel(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"$prettyName: signature lengths differ (${a.numElements()} vs ${b.numElements()})")
    var agree = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) agree += 1
      i += 1
    }
    agree
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sigagreeself", this, classOf[SigAgreeExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.kernel($a, $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigAgreeExpr =
    copy(left = l, right = r)
}

/** Distinct winnowing fingerprints of a (pre-normalized) string: md5-60 of
  * the char k-gram at every position, then the minimum of each `window` of
  * consecutive gram hashes, deduplicated by first occurrence — one tight
  * loop per row with an O(n) monotonic-deque window minimum, replacing the
  * interpreted per-element `md5 → hex-substring → conv` pipeline plus the
  * O(n·w) `transform(slice→array_min)` pass (the same ~2× constant-factor
  * class as the other kernels here). Value-identical to that column
  * formula: same char positions (BMP text — `String.substring`; the corpus
  * is whitespace-normalized before this runs), same md5-60, same window
  * minima. Shorter-than-k text yields an empty array.
  */
final case class WinnowExpr(child: Expression, kChars: Int, window: Int)
    extends UnaryExpression with Serializable {
  require(kChars >= 1 && window >= 1, "winnow needs kChars >= 1 and window >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  def kernel(in: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val s = in.toString
    val len = s.length
    if (len < kChars) return new GenericArrayData(Array.emptyLongArray)
    val nH = len - kChars + 1
    val hs = new Array[Long](nH)
    var i = 0
    while (i < nH) {
      hs(i) = CrossHash.md5h60(s.substring(i, i + kChars).getBytes("UTF-8"))
      i += 1
    }
    if (nH < window) return new GenericArrayData(Array.emptyLongArray)
    // monotonic deque of candidate indices: front is the window minimum;
    // ties keep the EARLIEST index (strict < when popping), matching
    // array_min over each slice value-for-value
    val deque = new Array[Int](nH)
    var head = 0
    var tail = 0 // exclusive
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](nH - window + 1)
    i = 0
    while (i < nH) {
      while (tail > head && hs(deque(tail - 1)) > hs(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - window) head += 1
      if (i >= window - 1) {
        val h = hs(deque(head))
        if (seen.add(h)) out += h
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winnowself", this, classOf[WinnowExpr].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.kernel($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowExpr =
    copy(child = newChild)
}
