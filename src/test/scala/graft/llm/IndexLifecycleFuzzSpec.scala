package graft.llm

import graft.SparkSpec

/** Differential fuzz of the persisted-index lifecycle: over seeded random
  * corpora, any sequence of build → appends (random split, possibly empty
  * batches, zero-token docs) → compactions (at random points, possibly
  * repeated) must rank EXACTLY like the one-shot batch operator over the
  * full corpus. The deterministic specs pin single shapes; this guards
  * the marker-fold and recluster logic against split/edge-case
  * combinations nobody wrote down.
  */
class IndexLifecycleFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "theta", "iota", "kappa", "lambda")

  private def corpus(rnd: scala.util.Random, n: Int) =
    (0 until n).map { i =>
      val len = rnd.nextInt(12) // zero-token docs included
      (i.toLong, (0 until len).map(_ => words(rnd.nextInt(words.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")

  test("bm25: random build/append/compact sequences rank like the batch " +
      "operator on 8 seeded corpora") {
    val queries = Seq(0L -> "alpha beta", 1L -> "zeta", 2L -> "gamma theta kappa")
    (0 until 8).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val docs = corpus(rnd, 40)
      val path = graft.core.TempDirs.scratch(s"bm25_lifecycle_fuzz_$seed")
      val nBatches = 1 + rnd.nextInt(5)
      val batchOf = (0 until 40).map(_ => rnd.nextInt(nBatches))
      def shard(b: Int) = {
        val ids = batchOf.zipWithIndex.collect { case (`b`, i) => i.toLong }
        docs.where($"doc_id".isInCollection(if (ids.isEmpty) Seq(-1L) else ids))
      }
      Retrieval.buildIndex(shard(0), path) // may be EMPTY (marker tf = 0)
      (1 until nBatches).foreach { b =>
        Retrieval.appendToIndex(shard(b), path)
        if (rnd.nextBoolean()) Retrieval.compactIndex(spark, path): Unit
      }
      if (rnd.nextBoolean()) Retrieval.compactIndex(spark, path): Unit
      val got = Retrieval.bm25TopKFromIndex(spark, path, queries, k = 10)
        .collect().map(_.toSeq).toSet
      val want = Retrieval.bm25TopK(docs, queries, k = 10)
        .collect().map(_.toSeq).toSet
      assert(got == want, s"seed $seed (batches $nBatches) diverged")
    }
  }

  test("dedup: random build/append/compact sequences pair like the batch " +
      "LSH operator on 8 seeded corpora") {
    (0 until 8).foreach { seed =>
      val rnd = new scala.util.Random(2000 + seed)
      val docs = corpus(rnd, 40)
      val path = graft.core.TempDirs.scratch(s"dedup_lifecycle_fuzz_$seed")
      val nBatches = 1 + rnd.nextInt(5)
      val batchOf = (0 until 40).map(_ => rnd.nextInt(nBatches))
      def shard(b: Int) = {
        val ids = batchOf.zipWithIndex.collect { case (`b`, i) => i.toLong }
        docs.where($"doc_id".isInCollection(if (ids.isEmpty) Seq(-1L) else ids))
      }
      DedupIndex.buildIndex(shard(0), path) // may be EMPTY
      (1 until nBatches).foreach { b =>
        DedupIndex.appendToIndex(shard(b), path)
        if (rnd.nextBoolean()) DedupIndex.compactIndex(spark, path): Unit
      }
      if (rnd.nextBoolean()) DedupIndex.compactIndex(spark, path): Unit
      val got = DedupIndex.pairsFromIndex(spark, path)
        .collect().map(_.toSeq).toSet
      val want = Dedup.nearDupPairs(docs)
        .collect().map(_.toSeq).toSet
      assert(got == want, s"seed $seed (batches $nBatches) diverged")
    }
  }
}
