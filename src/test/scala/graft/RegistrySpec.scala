package graft

import graft.queries.QuerySpec

/** The correctness-gate contract: every registered query carries oracle
  * SQL, every name is registered once, and every name a tool uses by
  * default resolves.
  */
class RegistrySpec extends org.scalatest.funsuite.AnyFunSuite {

  test("queries and oracleSql cover exactly the same names") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracle entries without a query: ${o -- q}")
    assert((q -- o).isEmpty, s"queries without oracle SQL: ${q -- o}")
    assert(q.size == 178 && o.size == 178)
    assert(SparkEntry.all.size == 178)
  }

  test("the registry index refuses a repeated name, naming it") {
    val a = SparkEntry.spec("q_stats")
    val b = SparkEntry.spec("q_dims")
    assert(QuerySpec.index(Seq(a, b)).keySet == Set("q_stats", "q_dims"))
    val e = intercept[QuerySpec.DuplicateQueryError](
      QuerySpec.index(Seq(a, b, a.copy(oracleSql = "SELECT 1"))))
    assert(e.name == "q_stats")
    assert(e.getMessage.contains("q_stats"))
  }

  test("spec fails loudly on an unknown name, naming it") {
    val e = intercept[SparkEntry.UnknownQueryError](SparkEntry.spec("q_no_such"))
    assert(e.name == "q_no_such")
    assert(e.getMessage.contains("q_no_such"))
  }

  test("Bench's built-in warm-up and control names all resolve") {
    (Bench.WarmupQueries ++ Bench.DefaultControls).foreach(n =>
      assert(SparkEntry.spec(n).name == n))
    graft.tools.Scale.DefaultSet.foreach(n =>
      assert(SparkEntry.spec(n).name == n))
  }

  test("query names are well-formed and oracle SQL non-empty") {
    SparkEntry.queries.keys.foreach(n =>
      assert(n.matches("q_[a-z0-9_]+"), s"odd query name: $n"))
    SparkEntry.oracleSql.foreach { case (n, sql) =>
      assert(sql.trim.nonEmpty, s"empty oracle SQL for $n")
    }
  }
}
