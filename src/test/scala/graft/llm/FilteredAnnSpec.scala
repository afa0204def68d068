package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Filtered vector search: the metadata predicate restricts the corpus arm
  * only; the query set and the dense ranks are untouched.
  */
class FilteredAnnSpec extends SparkSpec {

  private def emb = spark.read
    .parquet("/root/testdata/sf0.01/embeddings.parquet")

  test("filtered brute-force: corpus restricted, query set untouched, ranks dense") {
    val pred = col("label") % 2 === 0
    val rows = Similarity.bruteForceTopK(emb, (0L until 5L), k = 7,
      corpusFilter = Some(pred)).collect()
    val evenIds = emb.where(pred).collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => evenIds(r.getLong(1))),
      "every neighbor must satisfy the corpus predicate")
    // queries are NOT subject to the filter: all 5 query ids answer,
    // including those whose own label fails the predicate
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.keySet == (0L until 5L).toSet)
    // ranks stay dense 1..7 — the filter restricts the candidate set, it
    // does not punch holes in the ranking
    byQuery.values.foreach { g =>
      assert(g.map(_.getLong(2)).sorted.toSeq == (1L to 7L))
    }
  }
}
