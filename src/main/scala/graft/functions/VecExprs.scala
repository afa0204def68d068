package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst kernels for the dense-vector math in the similarity
  * and dedup operators (cosine, dot, unit-normalize, squared L2).
  *
  * The interpreted `zip_with` + `aggregate` folds these replace are the same
  * 20× constant-factor trap the minhash pipeline hit in round 2 — and the
  * HOF unit-normalize was worse: the norm sub-fold sat INSIDE the lambda,
  * re-evaluated per element (O(dim²) per row). Every kernel below runs the
  * loop once per row inside whole-stage codegen and accumulates in double
  * with the SAME left-to-right association as the `list_reduce` the DuckDB
  * oracle evaluates, so results stay bit-identical.
  */
object VecExprs {

  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Element accessor that tolerates float or double arrays. */
  private[functions] def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  private[functions] def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(s"expected array<float|double>, got $t")
  }

  /** Fail-loud dimension check shared by the pairwise kernels. The HOF folds
    * these kernels replaced returned NULL on mismatched lengths and
    * [[CrossHash.planeSig]] throws — silently truncating to the shorter side
    * would produce plausible-but-wrong similarities, so the kernels throw
    * with the same policy as planeSig.
    */
  private[functions] def sameDim(op: String, a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"$op: vector dimensions differ (${a.numElements()} vs ${b.numElements()})")
    n
  }
}

/** cosine(a, b) with double accumulation; NULL for a zero-norm side —
  * mirrors the `when(denom > 0, dot/denom)` column formula value-for-value
  * (three independent left folds fused into one loop).
  */
final case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  @transient private lazy val fl = VecExprs.isFloatArray(left)
  @transient private lazy val fr = VecExprs.isFloatArray(right)

  def kernel(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = VecExprs.sameDim(prettyName, a, b)
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < n) {
      val x = VecExprs.elem(a, i, fl)
      val y = VecExprs.elem(b, i, fr)
      dab += x * y; daa += x * x; dbb += y * y
      i += 1
    }
    val denom = math.sqrt(daa) * math.sqrt(dbb)
    if (denom > 0.0) java.lang.Double.valueOf(dab / denom) else null
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosself", this, classOf[CosineSimExpr].getName)
    val tmp = ctx.freshName("cos")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""java.lang.Double $tmp = $ref.kernel($a, $b);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimExpr =
    copy(left = l, right = r)
}

/** Left-fold dot product (0.0 for empty arrays). */
final case class DotExpr(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  @transient private lazy val fl = VecExprs.isFloatArray(left)
  @transient private lazy val fr = VecExprs.isFloatArray(right)

  def kernel(a: ArrayData, b: ArrayData): Double = {
    val n = VecExprs.sameDim(prettyName, a, b)
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += VecExprs.elem(a, i, fl) * VecExprs.elem(b, i, fr)
      i += 1
    }
    acc
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dotself", this, classOf[DotExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.kernel($a, $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotExpr =
    copy(left = l, right = r)
}

/** v / ‖v‖ as array<double>; a zero vector normalizes to zeros (never above
  * any cosine threshold) rather than tripping ANSI 0/0 — same contract as
  * the HOF formula it replaces, minus its per-element re-fold of the norm.
  */
final case class UnitVecExpr(child: Expression)
    extends UnaryExpression with Serializable {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "unit_vec"

  @transient private lazy val fin = VecExprs.isFloatArray(child)

  def kernel(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) { val x = VecExprs.elem(a, i, fin); ss += x * x; i += 1 }
    val out = new Array[Double](n)
    if (ss > 0.0) {
      val norm = math.sqrt(ss)
      i = 0
      while (i < n) { out(i) = VecExprs.elem(a, i, fin) / norm; i += 1 }
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any): Any =
    kernel(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unitself", this, classOf[UnitVecExpr].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.kernel($a);")
  }

  override protected def withNewChildInternal(c: Expression): UnitVecExpr =
    copy(child = c)
}

/** Squared L2 distance with left-to-right double accumulation, the same
  * association as the oracle's `list_reduce`.
  */
final case class L2SqExpr(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_l2sq"

  @transient private lazy val fl = VecExprs.isFloatArray(left)
  @transient private lazy val fr = VecExprs.isFloatArray(right)

  def kernel(a: ArrayData, b: ArrayData): Double = {
    val n = VecExprs.sameDim(prettyName, a, b)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = VecExprs.elem(a, i, fl) - VecExprs.elem(b, i, fr)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("l2sqself", this, classOf[L2SqExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.kernel($a, $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2SqExpr =
    copy(left = l, right = r)
}
