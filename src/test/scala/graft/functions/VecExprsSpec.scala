package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The dense-vector kernels: value parity with the column formulas they
  * replaced, and the fail-loud dimension policy (mismatched lengths throw —
  * the HOF folds returned NULL; silently truncating to the shorter side
  * would fabricate plausible-but-wrong similarities).
  * Squared L2 has no Column wrapper; it is reached through its SQL name.
  */
class VecExprsSpec extends SparkSpec {
  import spark.implicits._
  GraftSparkExtensions.install(spark)

  private val pairs = Seq(
    (Array(1.0f, 2.0f, 3.0f), Array(4.0, 5.0, 6.0)),
    (Array(0.0f, 0.0f, 0.0f), Array(1.0, 2.0, 2.0))
  ).toDF("a", "b")

  test("dot, cosine and l2sq match the column formulas on equal dims") {
    val r = pairs.select(
      VecExprs.dot($"a", $"b").as("dot"),
      VecExprs.cosineSim($"a", $"b").as("cos"),
      expr("vec_l2sq(a, b)").as("d2")).collect()
    assert(r(0).getDouble(0) == 32.0)
    assert(math.abs(r(0).getDouble(1) - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-12)
    assert(r(0).getDouble(2) == 9.0 + 9.0 + 9.0)
    assert(r(1).isNullAt(1), "zero-norm side -> NULL cosine")
    assert(r(1).getDouble(2) == 9.0)
  }

  test("mismatched dimensions fail loudly — never truncate") {
    val bad = Seq((Array(1.0f, 2.0f), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    for (k <- Seq(VecExprs.dot(col("a"), col("b")),
                  VecExprs.cosineSim(col("a"), col("b")),
                  expr("vec_l2sq(a, b)"))) {
      val ex = intercept[Exception] { bad.select(k).collect() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("dimensions differ")),
        s"expected a dimension error, got $ex")
    }
  }
}
