package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Scratch

/** Sparse (lexical) retrieval over the corpus — the BM25 companion to the
  * dense-vector search in [[Similarity]]. Training-data
  * pipelines use it for targeted corpus queries (find the docs about X),
  * eval-set mining, and as the lexical arm of hybrid retrieval.
  *
  * Scoring is BM25 with a RATIONAL idf: `idf = (N − df + ½)/(df + ½) + 1`
  * — the same monotone ranking as Robertson's `ln`-based idf for any fixed
  * df ordering, expressed without a transcendental so every score is plain
  * IEEE arithmetic and the DuckDB oracle hash-matches bit-for-bit (see
  * [[TextAnalysis.keywords]], which makes the identical trade; a `ln`
  * differs in the last ulp across libm builds). Rare terms weigh linearly
  * rather than logarithmically in df — fine for ranking, documented here
  * because absolute scores are NOT comparable to textbook BM25.
  *
  * Scale shape: the corpus is scanned once with a narrow tokenize; only
  * tokens that appear in SOME query survive the explode (`isInCollection`
  * compiles to a hash-set probe), so the term-frequency aggregate and
  * everything after it is sized by |docs matching any term|, not corpus
  * tokens. Document frequencies and the query-term table are broadcast;
  * corpus stats ride a broadcast single-row aggregate (no driver action).
  * Per-doc score terms fold in term order, so ranking is deterministic.
  */
object Retrieval {

  private def queryTerms(queries: Seq[(Long, String)]): Seq[(Long, String)] = {
    val qTerms = queries.flatMap { case (qid, text) =>
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        .map(t => (qid, t))
    }
    require(qTerms.nonEmpty, "no query has any term")
    qTerms
  }

  /** BM25 top-k: score `queries` (id → free-text) against every document,
    * return the best `k` docs per query as (query_id, idCol, score, rank).
    * Ranking ties break on document id; docs sharing no term with a query
    * score nothing and never surface. This demo shape re-tokenizes the
    * corpus per call; production builds the postings once
    * ([[buildIndex]]) and serves query batches from it.
    */
  def bm25TopK(docs: DataFrame, queries: Seq[(Long, String)], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(queries.nonEmpty && queries.size <= 65536,
      s"BM25 broadcasts the query-term table — got ${queries.size} queries")
    val sess = docs.sparkSession
    import sess.implicits._
    val qTerms = queryTerms(queries)
    val allTerms = qTerms.map(_._2).distinct

    val toks = TextAnalysis.tokens(lower(col(textCol)))
    // ONE corpus scan: the generate pipelines into a codegen'd where (an
    // array `filter` HOF would evaluate its lambda interpreted per token).
    // pos-0/null rows are kept as one-per-doc markers so the corpus stats
    // (n_docs, avgdl) survive the term filter; the staged table is
    // summary-sized (query-term hits + one marker row per doc, no text).
    // Size-gated: a corpus below the stage gate just tokenizes twice (tf +
    // stats arms) — cheaper than the write round-trip at that size.
    val ex = Scratch.stageIfLarge(
      Scratch.rebalance(docs, heavy = true)
        .select(col(idCol), size(toks).cast("long").as("dl"),
          posexplode_outer(toks).as(Seq("_pos", "term")))
        .where(col("_pos").isNull || col("_pos") === 0 ||
          col("term").isInCollection(allTerms)),
      "bm25_tok", source = docs)
    // one row per (doc, query-term occurrence): corpus tokens matching no
    // query died at the scan
    val tf = ex
      .where(col("term").isInCollection(allTerms))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val stats = ex
      .where(col("_pos").isNull || col("_pos") === 0)
      .agg(count(lit(1)).cast("long").as("n_docs"),
        (sum("dl").cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    score(tf, stats, qTerms, k, k1, b, idCol)
  }

  /** Build + persist the BM25 inverted index under `indexPath`: `postings`
    * ((term, idCol, tf, dl) — one row per distinct doc-term, laid out
    * term-keyed so a query batch's `term IN (...)` prunes at the parquet
    * scan) and `stats` (one row per build/append: n_docs, sum_dl — kept as
    * SUMS so appends stay additive; avgdl derives at read). The posting
    * build is the one full tokenize the corpus ever pays; every query
    * batch afterwards reads only its terms' postings.
    */
  def buildIndex(docs: DataFrame, indexPath: String,
                 textCol: String = "text", idCol: String = "doc_id"): Unit =
    writeIndex(docs, indexPath, "overwrite", textCol, idCol)

  /** Incremental maintenance: tokenize `newDocs` and append their posting
    * and stats rows — document frequencies and avgdl derive at query time
    * from the accumulated tables, so the ranking stays EXACT after any
    * number of appends. Appending the same doc twice double-counts it
    * (dedup upstream).
    */
  def appendToIndex(newDocs: DataFrame, indexPath: String,
                    textCol: String = "text", idCol: String = "doc_id"): Unit =
    writeIndex(newDocs, indexPath, "append", textCol, idCol)

  /** One corpus scan: the aggregated posting rows carry `min(_pos)` as a
    * per-doc STATS MARKER — exactly one group per doc holds position 0 (the
    * term its text starts with), and a zero-token doc's term-null row keeps
    * a null marker — so n_docs/sum_dl derive from a filter over the same
    * aggregated frame instead of a second `distinct()` shuffle over every
    * posting row (the pass SCALING.md's round-14 sf10 sweep flagged as the
    * avoidable half of the index-build cost).
    *
    * The postings and marker arms both read the aggregate, so it needs a
    * materialize-once barrier — `docs` here is routinely a foreachBatch
    * micro-batch ([[graft.streaming.StreamingRetrieval]]) whose plan embeds
    * the live stateful dedup operator, and evaluating such a frame once per
    * arm re-executes the state store per arm (measured at sf10: 1.86× wall,
    * doubled state accounting). The barrier differs by mode:
    *
    *  - BUILD (`overwrite`): a scoped parquet stage
    *    ([[graft.core.Scratch.withStage]]) — a full-corpus aggregate wants
    *    real file-size stats for the postings shuffle width, and parquet
    *    scratch spills to disk by construction rather than through the
    *    block manager.
    *  - APPEND: an eager `persist(MEMORY_AND_DISK)` + count — a micro-batch
    *    append is delta-sized, and the parquet stage's write+read
    *    round-trip was the avoidable half of the per-append cost in the
    *    sf10 sweep (SCALING.md round-14: q_stream_bm25 wall exponent 1.41
    *    with state exactly linear). The count materializes the cached
    *    columnar batches exactly once (so the stateful plan runs once),
    *    the InMemoryRelation's post-materialization stats feed the same
    *    shuffle-width sizing, and the unpersist in `finally` bounds the
    *    cache to this call — the lazy-frame leak [[graft.core.Scratch]]
    *    exists to avoid can't happen here because both arms are fully
    *    consumed by the single write job below.
    *
    *    Known tradeoff vs the parquet stage: a cached block lost between
    *    the count and the write (executor death on a real cluster) makes
    *    Spark recompute that partition from lineage, re-executing the
    *    embedding stateful operator against an already-committed state
    *    version — which micro-batch validation rejects, FAILING the
    *    batch. That is recoverable, not corrupting: the restart replays
    *    the batch and the [[graft.streaming.BatchMarkers]] idempotence
    *    check skips any half-applied append. The parquet stage never
    *    fails this way (files survive executors) at the cost of a
    *    write+read round-trip per micro-batch; deployments appending
    *    very large batches on flaky fleets can prefer the build path's
    *    staged barrier by calling buildIndex-style overwrite batching.
    *
    * ATOMIC per append: the index is ONE table. Each call appends its
    * corpus stats as a single null-term MARKER ROW
    * `(id=NULL, dl=Σdl, term=NULL, tf=n_docs)` unioned into the same
    * write job as the posting rows, so postings and stats commit or
    * vanish together under Spark's file-commit protocol — the previous
    * two-table layout had a documented failure window (postings appended,
    * stats write failed → permanently skewed avgdl, rebuild required).
    * Real posting rows always have `term IS NOT NULL`, so query-time
    * `term IN (...)` never sees markers and the stats read
    * (`term IS NULL`) prunes posting files via parquet null counts.
    */
  private def writeIndex(docs: DataFrame, indexPath: String, mode: String,
                         textCol: String, idCol: String): Unit = {
    val toks = TextAnalysis.tokens(lower(col(textCol)))
    val agg = Scratch.rebalance(docs, heavy = true)
      .select(col(idCol), size(toks).cast("long").as("dl"),
        posexplode_outer(toks).as(Seq("_pos", "term")))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"), min(col("_pos")).as("_mp"))
    // Barrier choice by SOURCE size (the Scratch.stageIfLarge trade): the
    // parquet stage's write+read round-trip only pays for itself when the
    // aggregate is big enough that block-manager caching would pressure
    // memory — below graft.scratch.stageMinBytes (64 MB default) the
    // persist+count barrier materializes the same aggregate once at a
    // fraction of the cost. Appends (micro-batch deltas) always take the
    // persist path, as before; builds now take it for small corpora too.
    val sourceBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val minBytes = BigInt(docs.sparkSession.conf
      .get("graft.scratch.stageMinBytes", (64L << 20).toString).toLong)
    if (mode == "append" || sourceBytes < minBytes) {
      val cached = agg.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // writeFromAgg's marker aggregate is the materialize-once barrier
      // (an aggregate action computes and caches every partition, exactly
      // what the old count() did)
      try writeFromAgg(cached, indexPath, mode, idCol)
      finally { cached.unpersist(); () }
    } else Scratch.withStage(agg, "bm25_widx")(
      writeFromAgg(_, indexPath, mode, idCol))
  }

  /** The single postings+marker write job over a materialized aggregate.
    *
    * The marker's two scalars (Σdl over the position-0/null doc-stats
    * groups, their count) are folded down to the DRIVER first and re-enter
    * the write as a one-row literal frame: the previous union'd marker
    * SUBTREE re-scanned the whole aggregate inside the write job to
    * produce one row — a second full pass over a postings-sized table at
    * real scale (§2.4). For the persist path this driver fold doubles as
    * the materialize-once barrier. Atomicity is unchanged: the marker row
    * rides the SAME write job/commit as the postings.
    */
  private def writeFromAgg(agg: DataFrame, indexPath: String, mode: String,
                           idCol: String): Unit = {
    // exactly one doc-stats group per doc: its position-0 term group, or
    // the term-null row of a zero-token doc (which adds its dl = 0)
    val m = agg.where(col("_mp") === 0 || col("_mp").isNull)
      .agg(sum("dl").cast("long").as("dl"),
        count(lit(1)).cast("long").as("tf"))
      .first()
    // size through a FRESH Dataset over the same plan: `persist()` memoizes
    // the pre-cache optimized plan on `agg`'s own QueryExecution, so only a
    // re-derived frame sees the materialized InMemoryRelation's real stats
    // (for the staged build path this is the identity — same parquet scan)
    val nParts = graft.core.Compaction.sizedWidth(agg.sparkSession,
      agg.select(agg.columns.map(col).toSeq: _*))
    val postings = agg.where(col("term").isNotNull)
      // term-keyed distribution + term-sorted files: each term's postings
      // land contiguously, so the parquet row-group min/max stats turn the
      // query-time `term IN (...)` into actual row-group skipping
      .repartition(nParts, col("term"))
      .sortWithinPartitions("term")
      .select(col(idCol), col("dl"), col("term"), col("tf"))
    postings.unionByName(
        markerRow(agg, idCol, if (m.isNullAt(0)) None else Some(m.getLong(0)),
          Some(m.getLong(1))))
      .write.mode(mode).parquet(s"$indexPath/postings")
  }

  /** The one-row literal marker frame `(id=NULL, dl, term=NULL, tf)` in the
    * postings schema — dl/tf None render as NULL (an empty append's fold).
    */
  private def markerRow(like: DataFrame, idCol: String, dl: Option[Long],
                        tf: Option[Long]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(idCol, like.schema(idCol).dataType, nullable = true),
      StructField("dl", LongType, nullable = true),
      StructField("term", StringType, nullable = true),
      StructField("tf", LongType, nullable = true)))
    val row = org.apache.spark.sql.Row(null,
      dl.map(java.lang.Long.valueOf).orNull, null,
      tf.map(java.lang.Long.valueOf).orNull)
    like.sparkSession.createDataFrame(
      java.util.Collections.singletonList(row), schema)
  }

  /** Fold micro-batch accumulation back into the built shape: a long
    * appending stream leaves one stats marker row and a few small posting
    * files per batch; thousands of tiny files erode the query-time
    * `term IN (...)` row-group skipping (every file opens, no term
    * locality across files) and grow the marker fold linearly. Rewrites
    * the table term-distributed + term-sorted with the markers folded to
    * ONE row, staging-then-swap like [[graft.storage.MdioDataset.compact]]
    * (the same delete→rename window; run with writers quiesced —
    * [[graft.streaming.StreamingRetrieval.appendPostings]]'s
    * `compactEveryBatches` runs it inside the serialized foreachBatch).
    * Returns (parquet files before, after).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   indexPath: String): (Int, Int) =
    graft.core.Compaction.rewriteInPlace(spark, s"$indexPath/postings") { idx =>
      val others = idx.columns.filterNot(Set("dl", "term", "tf"))
      require(others.length == 1,
        s"not a bm25 postings table (columns ${idx.columns.mkString(", ")})")
      val idName = others.head
      val postings = idx.where(col("term").isNotNull)
        .repartition(graft.core.Compaction.sizedWidth(spark, idx), col("term"))
        .sortWithinPartitions("term")
        .select(col(idName), col("dl"), col("term"), col("tf"))
      // marker fold to the driver (null-count-pruned scan of the few
      // marker-bearing files), re-entering as a one-row literal — same
      // §2.4 fold as writeFromAgg; an empty/markerless table folds to
      // nothing
      val m = idx.where(col("term").isNull)
        .agg(sum("dl").cast("long").as("dl"), sum("tf").cast("long").as("tf"))
        .first()
      if (m.isNullAt(1)) postings
      else postings.unionByName(markerRow(idx, idName,
        if (m.isNullAt(0)) None else Some(m.getLong(0)), Some(m.getLong(1))))
    }

  /** BM25 top-k against a prebuilt index: same ranking as [[bm25TopK]] (the
    * spec pins equality), but the corpus never re-tokenizes — the postings
    * scan carries a pushed-down `term IN (query terms)` filter, so I/O is
    * sized by the query terms' posting lists, not the corpus.
    */
  def bm25TopKFromIndex(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String, queries: Seq[(Long, String)],
                        k: Int, k1: Double = 1.2, b: Double = 0.75,
                        idCol: String = "doc_id"): DataFrame = {
    require(queries.nonEmpty && queries.size <= 65536,
      s"BM25 broadcasts the query-term table — got ${queries.size} queries")
    val qTerms = queryTerms(queries)
    val allTerms = qTerms.map(_._2).distinct
    val idx = spark.read.parquet(s"$indexPath/postings")
    // `IN` is null-rejecting, so the stats markers can never score
    val tf = idx.where(col("term").isInCollection(allTerms))
    // one marker row per build/append (term IS NULL — parquet null counts
    // prune every pure-postings file): fold the sums, then the single
    // division — the same (Σdl as long) / (n as long) the demo path
    // computes
    val stats = idx.where(col("term").isNull)
      .agg(sum("tf").cast("long").as("n_docs"),
        sum("dl").cast("long").as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))
    score(tf, stats, qTerms, k, k1, b, idCol)
  }

  /** Shared scoring tail: tf rows (idCol, dl, term, tf) + windowed dfs ×
    * broadcast query terms × broadcast one-row stats → term-ordered fold →
    * per-query top-k window. Document frequency is a term-partitioned
    * window COUNT over the tf rows ((id, term) is distinct there) rather
    * than a groupBy + self-join — the tf subtree is already query-term
    * sized, and the join shape would re-run its whole corpus scan to build
    * the broadcast side.
    */
  private def score(tf: DataFrame, stats: DataFrame,
                    qTerms: Seq[(Long, String)], k: Int, k1: Double,
                    b: Double, idCol: String): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val sess = tf.sparkSession
    import sess.implicits._
    val qTermDf = qTerms.toDF("query_id", "term")
    val wdf = Window.partitionBy(col("term"))

    val idf = ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)) + lit(1.0)
    val norm = lit(k1) *
      (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))
    val partial = idf *
      (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") + norm)

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    tf.withColumn("df", count(lit(1)).over(wdf).cast("long"))
      .join(broadcast(qTermDf), "term")
      .crossJoin(broadcast(stats))
      .withColumn("_p", partial)
      .groupBy(col("query_id"), col(idCol))
      .agg(collect_list(struct(col("term"), col("_p").as("p"))).as("_ps"))
      // term-ordered left fold: deterministic double sum, and 0.0 + x ≡ x
      // so it matches the oracle's seedless list_reduce
      .withColumn("score",
        aggregate(transform(array_sort(col("_ps")), s => s.getField("p")),
          lit(0.0), (acc, x) => acc + x))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("score"), col("rank"))
  }

  /** Reciprocal-rank fusion (RRF) — the standard hybrid-retrieval merge:
    * each source ranking contributes `1/(k0 + rank)` per (query, doc) and
    * the fused score is the sum, so a doc surfacing high in ANY arm ranks
    * well without any score normalization across arms (BM25 scores and
    * cosine distances are not commensurable; ranks are). `rankings` maps a
    * source tag to that arm's (query_id, idCol, rank) frame — e.g. the
    * lexical [[bm25TopK]] and the dense [[Similarity.bruteForceTopK]].
    *
    * Determinism: contributions are exact IEEE divisions folded in
    * (source-tag, rank) order; fused ties break on doc id. Scale shape:
    * inputs are per-query top-k lists (already tiny); one (query, doc)
    * aggregate and one window.
    */
  def rrfFuse(rankings: Seq[(String, DataFrame)], k: Int, k0: Int = 60,
              idCol: String = "doc_id"): DataFrame = {
    require(rankings.nonEmpty, "RRF needs at least one ranking")
    require(rankings.map(_._1).distinct.size == rankings.size,
      "RRF source tags must be distinct")
    val tagged = rankings.map { case (tag, df) =>
      df.select(col("query_id"), col(idCol), col("rank"),
        lit(tag).as("src"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    tagged
      .groupBy(col("query_id"), col(idCol))
      .agg(collect_list(struct(col("src"), col("rank"))).as("_rs"))
      .withColumn("score",
        aggregate(
          transform(array_sort(col("_rs")),
            s => lit(1.0) / (lit(k0.toLong) + s.getField("rank")).cast("double")),
          lit(0.0), (acc, x) => acc + x))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("score"), col("rank"))
  }
}
