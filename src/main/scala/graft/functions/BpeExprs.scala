package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** BPE encode as ONE codegen expression carrying the ordered merge table —
  * the production-vocabulary (32k–100k merge) encoder. The chained-replace
  * plan ([[graft.llm.TextAnalysis.bpeApplyMerges]]) grows one string-replace
  * node per merge, which is fine for demo tables but makes a 32k-merge plan
  * absurd; this kernel is a single plan node whose size is independent of
  * the merge count: the merge table rides the expression as a
  * driver-held object.
  *
  * Semantics are EXACTLY [[graft.llm.TextAnalysis.trainBpeMerges]]'s fold,
  * applied per merge in rank order: split the token into code points, then
  * for each merge (a, b) run one left-to-right non-overlapping pass
  * replacing adjacent (a, b) with a+b. A merged symbol cannot re-match its
  * own pattern (a+b is a different whole symbol than a or b, both
  * non-empty), so one pass per merge is that merge's fixpoint — the same
  * argument the chained-replace encoder documents, and the reason the two
  * encoders agree symbol-for-symbol on any table.
  *
  * Per-token cost: each merge first probes a symbol-presence set (both
  * sides must currently exist in the token) and skips in O(1) otherwise —
  * with a 32k table and a ~10-symbol token, almost every merge is a skip,
  * so encode is ~table-size hash probes + a handful of real passes, not
  * 32k full scans. The table rides the expression as a driver-held object:
  * vocabulary-sized (parameter, NOT corpus-derived), no size gate needed.
  */
object BpeEncode {
  def apply(token: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeEncodeExpr(ColumnBridge.expression(token),
      merges.toIndexedSeq))
}

final case class BpeEncodeExpr(child: Expression,
                               merges: IndexedSeq[(String, String)])
    extends UnaryExpression with Serializable {
  require(merges.forall(m => m._1.nonEmpty && m._2.nonEmpty),
    "merges must be (lhs, rhs) pairs of non-empty symbols")

  // pairs as a Seq in the CASE-CLASS FIELD so equals/hashCode are structural
  // (Array fields compare by reference, defeating Catalyst canonicalization);
  // flat arrays below keep the hot loop on primitive indexing
  @transient private lazy val lhsA: Array[String] = merges.map(_._1).toArray
  @transient private lazy val rhsA: Array[String] = merges.map(_._2).toArray

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  def kernel(token: UTF8String): ArrayData = {
    val s = token.toString
    // code-point split, matching split(token, "") / regex "." semantics
    var syms = new Array[String](s.codePointCount(0, s.length))
    var ci = 0
    var n = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      syms(n) = new String(Character.toChars(cp))
      n += 1
      ci += Character.charCount(cp)
    }
    var present: java.util.HashSet[String] = null
    def rebuild(): Unit = {
      present = new java.util.HashSet[String](Math.max(8, n * 2))
      var i = 0
      while (i < n) { present.add(syms(i)); i += 1 }
    }
    rebuild()
    var mi = 0
    while (mi < lhsA.length && n > 1) {
      val a = lhsA(mi)
      val b = rhsA(mi)
      if (present.contains(a) && present.contains(b)) {
        // one left-to-right non-overlapping pass == the trainer's fold
        val out = new Array[String](n)
        var i = 0
        var o = 0
        var changed = false
        while (i < n) {
          if (i + 1 < n && syms(i) == a && syms(i + 1) == b) {
            out(o) = a + b; i += 2; changed = true
          } else {
            out(o) = syms(i); i += 1
          }
          o += 1
        }
        if (changed) { syms = out; n = o; rebuild() }
      }
      mi += 1
    }
    val pieces = new Array[Any](n)
    var i = 0
    while (i < n) { pieces(i) = UTF8String.fromString(syms(i)); i += 1 }
    new GenericArrayData(pieces)
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeencself", this, classOf[BpeEncodeExpr].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $ref.kernel($t);")
  }

  override protected def withNewChildInternal(c: Expression): BpeEncodeExpr =
    copy(child = c)
}
