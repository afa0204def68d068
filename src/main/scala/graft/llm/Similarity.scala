package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact similarity search over an embedding column (`Array[Float]`):
  * `bruteForceTopK` ranks the corpus against a *small* query set — the
  * query side is broadcast, the corpus is scanned once, and the per-query
  * top-k is a window over per-query partitions (parallel across queries,
  * never a global sort).
  */
object Similarity {

  /** Cosine similarity of two float/double-array columns, accumulated in
    * double with the oracle's left-to-right association. NULL for a zero
    * vector (ANSI mode throws on the 0/0 division; a real corpus contains
    * dead embeddings). A native codegen kernel
    * ([[graft.functions.VecExprs.cosineSim]]) — one fused loop per pair
    * instead of three interpreted `zip_with`+`aggregate` folds.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VecExprs.cosineSim(a, b)

  /** Exact top-k neighbors for each query id (queries ⊂ corpus by id). */
  def bruteForceTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     corpusFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val queries = embeddings
      .where(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    // FILTERED search: the metadata predicate restricts the corpus side
    // only (queries stay unrestricted — the vector-DB convention); it sits
    // on the scan, so Catalyst prunes rows before any distance math
    // spread the corpus scan before the per-row cosine kernel: a
    // hollow-split parquet source would run every (row × query) dot
    // product on one task ([[graft.core.Scratch.rebalance]])
    val corpus = graft.core.Scratch.rebalance(
        corpusFilter.fold(embeddings)(embeddings.where))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    corpus.crossJoin(broadcast(queries))          // broadcast: |queries| rows
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }
}
