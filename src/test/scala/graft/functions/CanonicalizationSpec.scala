package graft.functions

import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** Expressions carrying plan-time parameter blobs must compare STRUCTURALLY:
  * an Array case-class field falls back to reference identity, so two
  * semantically identical expressions built from distinct arrays never
  * compare equal — defeating Catalyst canonicalization and subexpression
  * elimination (never wrong results, just duplicate compute). FirFilterExpr
  * was fixed for this in round 13 (TraceOpsSpec); this pins the same
  * property for every other parameterized kernel. Each pair below is built
  * from FRESH array instances, the way two separate operator calls would.
  */
class CanonicalizationSpec extends AnyFunSuite {

  private val vecD = BoundReference(0, ArrayType(DoubleType), nullable = false)
  private val str = BoundReference(0, StringType, nullable = false)
  private val lng = BoundReference(0, LongType, nullable = false)

  private def assertStructural(a: org.apache.spark.sql.catalyst.expressions.Expression,
                               b: org.apache.spark.sql.catalyst.expressions.Expression): Unit = {
    assert(a == b, s"${a.prettyName}: equal params must compare equal")
    assert(a.hashCode == b.hashCode, s"${a.prettyName}: hashCode must be structural")
    assert(a.canonicalized == b.canonicalized)
  }

  private def expr(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graft.ColumnBridge.expression(c)

  test("BPE encode with equal merge tables is structurally equal") {
    val colS = org.apache.spark.sql.graft.ColumnBridge.column(str)
    def merges() = Seq(("a", "b"), ("ab", "c"))
    assertStructural(expr(BpeEncode(colS, merges())), expr(BpeEncode(colS, merges())))
    assert(expr(BpeEncode(colS, merges())) != expr(BpeEncode(colS, Seq(("a", "b")))))
  }

  test("bloom membership with equal filter bytes is structurally equal") {
    val colL = org.apache.spark.sql.graft.ColumnBridge.column(lng)
    def blob(): Array[Byte] = {
      val f = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
      f.putLong(7L); f.putLong(42L)
      BloomExprs.serialize(f)
    }
    assertStructural(expr(BloomExprs.mightContain(colL, blob())),
      expr(BloomExprs.mightContain(colL, blob())))
  }

  test("PassJoin key expressions are structurally equal") {
    val colS = org.apache.spark.sql.graft.ColumnBridge.column(str)
    assertStructural(expr(EditDistExprs.probeKeys(colS, 4)), expr(EditDistExprs.probeKeys(colS, 4)))
    assert(expr(EditDistExprs.probeKeys(colS, 4)) != expr(EditDistExprs.indexKeys(colS, 4)))
  }
}
