package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Compaction, Scratch}
import graft.functions.CrossHashExprs

/** Persisted MinHash-LSH signature index — index maintenance for the
  * DEDUP tier, symmetric with the BM25 ([[Retrieval]]) lifecycle: build
  * once, append deltas, compact,
  * query — so a growing corpus never re-shingles old documents to dedup
  * new ones. At 100 TB this is the difference between an O(delta)
  * ingest step and an O(corpus) one.
  *
  * Layout: ONE atomic parquet table (`indexPath/sigs`) holding three row
  * kinds, committed in the SAME write job per build/append (the BM25
  * marker-row lesson — two tables have a crash window between writes):
  *
  *   banded rows:  (id, band, band_hash, sig = NULL) — 3 narrow columns
  *                 × `bands` rows per doc, the join side of every query;
  *   signature rows: (id, band = NULL, band_hash = NULL, sig) — the
  *                 32-long signature ONCE per doc (never once per band:
  *                 the fat layout multiplies the dominant column ×bands,
  *                 the same trade measured for LSH-ANN in SCALING.md);
  *   meta row:     (id = NULL, band = n, band_hash = bands, sig = NULL) —
  *                 the build's shingle size and band count, written once
  *                 per build/append so mismatched appends/queries FAIL
  *                 LOUDLY instead of silently mixing incompatible hash
  *                 spaces (k is validated against the stored signature
  *                 length the same way).
  *
  * Parquet null counts keep the kinds separable for free: `band IS NOT
  * NULL AND id IS NOT NULL` is the bucket-join side, `band IS NULL` the
  * signature side, `id IS NULL` the meta rows. Same-id re-appends are the
  * caller's to prevent (the [[Retrieval.appendToIndex]] contract); all
  * appends and queries must reuse the build's (n, k, bands) — enforced
  * against the stored meta (an index written before the meta row existed
  * adopts the parameters of its first post-upgrade append).
  */
object DedupIndex {

  /** Build the signature index from scratch (mode overwrite). */
  def buildIndex(docs: DataFrame, indexPath: String,
                 textCol: String = "text", idCol: String = "doc_id",
                 n: Int = 3, k: Int = 32, bands: Int = 8): Unit =
    writeIndex(docs, indexPath, "overwrite", textCol, idCol, n, k, bands)

  /** Incrementally index a delta: shingle + sign ONLY `newDocs`, append
    * their banded and signature rows atomically. Must use the build's
    * (n, k, bands); a k mismatch fails loudly against the stored
    * signature length.
    */
  def appendToIndex(newDocs: DataFrame, indexPath: String,
                    textCol: String = "text", idCol: String = "doc_id",
                    n: Int = 3, k: Int = 32, bands: Int = 8): Unit = {
    validateParams(newDocs.sparkSession, indexPath, "append", n, k, bands)
    writeIndex(newDocs, indexPath, "append", textCol, idCol, n, k, bands)
  }

  /** All near-dup pairs over the INDEXED corpus — same semantics, same
    * hot-bucket cap, and bit-identical estimates as the from-scratch
    * [[Dedup.nearDupPairsFromSignatures]] (the registered row pins
    * build → append → compact → query ≡ the batch plan against the same
    * oracle): banded bucket equi-join on the narrow rows, then the two
    * signatures join back once per surviving pair for the exact
    * agree-count estimate.
    */
  def pairsFromIndex(spark: SparkSession, indexPath: String,
                     idCol: String = "doc_id",
                     minEstJaccard: Double = 0.5,
                     maxBucketSize: Int = 10000): DataFrame = {
    val t = spark.read.parquet(s"$indexPath/sigs")
    scoredPairs(
      // id NOT NULL keeps the meta row out of the bucket join
      t.where(col("band").isNotNull && col(idCol).isNotNull)
        .select(col(idCol), col("band"), col("band_hash"),
          lit(false).as("is_new")),
      t.where(col("band").isNull).select(col(idCol), col("sig")),
      idCol, minEstJaccard, maxBucketSize, deltaOnly = false)
  }

  /** Delta dedup WITHOUT appending first: pairs between `newDocs` and the
    * indexed corpus plus pairs within `newDocs` — exactly the pairs
    * [[pairsFromIndex]] would add if the delta were appended (the spec
    * pins that equivalence). The corpus side reads narrow banded rows;
    * only the delta shingles.
    */
  def queryIndex(newDocs: DataFrame, indexPath: String,
                 textCol: String = "text", idCol: String = "doc_id",
                 n: Int = 3, k: Int = 32, bands: Int = 8,
                 minEstJaccard: Double = 0.5,
                 maxBucketSize: Int = 10000): DataFrame = {
    val spark = newDocs.sparkSession
    validateParams(spark, indexPath, "query", n, k, bands)
    val newSigs = Scratch.stage(
      Dedup.withMinhashSignature(Scratch.rebalance(newDocs, heavy = true), textCol, idCol, n, k),
      "dedup_qidx")
    val t = spark.read.parquet(s"$indexPath/sigs")
    val banded = t.where(col("band").isNotNull && col(idCol).isNotNull)
      .select(col(idCol), col("band"), col("band_hash"), lit(false).as("is_new"))
      .unionByName(Dedup.lshBucketsFromSignatures(newSigs, idCol, k, bands)
        .select(col(idCol), col("band").cast("int"), col("band_hash"),
          lit(true).as("is_new")))
    val sigs = t.where(col("band").isNull).select(col(idCol), col("sig"))
      .unionByName(newSigs.select(col(idCol), col("sig")))
    scoredPairs(banded, sigs, idCol, minEstJaccard, maxBucketSize,
      deltaOnly = true)
  }

  /** Recluster the accumulated appends by (band, band_hash) so bucket
    * joins skip whole row groups again and the file count of a
    * forever-appending ingest stays bounded — staged-then-swap like every
    * other index compactor, but with the WRITE's distribution, not a plain
    * key recluster: the signature rows all share the NULL/NULL key, and
    * range-partitioning on the raw columns would funnel the fat column
    * through one task. Run with writers quiesced. Returns (files before,
    * after).
    */
  def compactIndex(spark: SparkSession, indexPath: String): (Int, Int) =
    Compaction.rewriteInPlace(spark, s"$indexPath/sigs") { idx =>
      val others = idx.columns.filterNot(Set("band", "band_hash", "sig"))
      require(others.length == 1,
        s"not a dedup signature table (columns ${idx.columns.mkString(", ")})")
      val idName = others.head
      // per-append meta rows are all equal (validated on append): fold to one
      val meta = idx.where(col(idName).isNull).distinct()
      idx.where(col(idName).isNotNull)
        .repartition(
          Compaction.sizedWidth(spark, idx),
          coalesce(col("band"), lit(-1)),
          coalesce(col("band_hash"), pmod(xxhash64(col(idName)), lit(1000000L))))
        .sortWithinPartitions("band", "band_hash")
        .unionByName(meta)
    }

  /** Stored parameters: k = length of any signature row, (n, bands) from
    * the meta row. Each is None when unrecoverable (index absent —
    * append-as-first-build — or written before the meta row existed).
    */
  private def storedParams(spark: SparkSession, indexPath: String)
      : (Option[Int], Option[(Int, Int)]) =
    try {
      val t = spark.read.parquet(s"$indexPath/sigs")
      val others = t.columns.filterNot(Set("band", "band_hash", "sig"))
      // ONE driver-blocking job for both limit-1 probes (this runs per
      // micro-batch on the streaming append path — separate collect()
      // jobs multiplied the per-batch planning/footer cost), and (n,
      // bands) come from the SAME meta row: two independent limit(1)
      // probes could pair values from different meta rows on an index
      // whose appends ever skipped validation
      val rows = t.where(col("band").isNull)
        .select(lit(0).as("w"), size(col("sig")).cast("long").as("v1"),
          lit(0L).as("v2")).limit(1)
        .unionByName(t.where(col(others.head).isNull)
          .select(lit(1).as("w"), col("band").cast("long").as("v1"),
            col("band_hash").as("v2")).limit(1))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val meta = rows.get(1).map { case (n, b) => (n.toInt, b.toInt) }
      (rows.get(0).map(_._1.toInt), meta)
    } catch { case _: org.apache.spark.sql.AnalysisException => (None, None) }

  /** Per-JVM cache of FULLY-KNOWN index parameters, keyed by index path.
    * An index's (n, k, bands) are immutable once written — every append
    * validates equality and compaction preserves the meta rows — so one
    * successful read (or this JVM's own write) pins them for the JVM's
    * lifetime and the streaming append path stops paying a probe job per
    * micro-batch. A rebuild (`buildIndex` overwrite) in THIS JVM refreshes
    * the entry; a concurrent rebuild from another JVM is outside the
    * single-writer contract appends already require.
    */
  private val paramsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, (Int, Int))]()

  /** Fail loudly on any parameter mismatch against the stored index —
    * mismatched (n, k, bands) silently mixes incompatible hash spaces.
    */
  private def validateParams(spark: SparkSession, indexPath: String,
                             what: String, n: Int, k: Int, bands: Int): Unit = {
    val cached = Option(paramsCache.get(indexPath))
    val (storedK, storedMeta) = cached match {
      case Some((ck, cm)) => (Some(ck), Some(cm))
      case None => storedParams(spark, indexPath)
    }
    require(storedK.forall(_ == k),
      s"$what with k=$k against an index built with k=${storedK.get}")
    storedMeta.foreach { case (sn, sb) =>
      require(sn == n && sb == bands,
        s"$what with (n=$n, bands=$bands) against an index built with " +
          s"(n=$sn, bands=$sb)")
    }
    // cache only complete pairs; a pre-meta-row index stays probe-per-call
    // until its first post-upgrade append writes the meta row
    if (cached.isEmpty)
      for { sk <- storedK; sm <- storedMeta }
        paramsCache.put(indexPath, (sk, sm)): Unit
  }

  private def writeIndex(docs: DataFrame, indexPath: String, mode: String,
                         textCol: String, idCol: String,
                         n: Int, k: Int, bands: Int): Unit = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val session = docs.sparkSession
    val r = k / bands
    val sigs = Dedup.withMinhashSignature(
      Scratch.rebalance(docs, heavy = true), textCol, idCol, n, k)
    // ONE pass, no scratch stage: each doc explodes into its `bands`
    // banded rows plus one signature row AFTER the signature projection.
    // The generator argument is a plain sequence() — the sig expression
    // cannot be inlined past the Generate (the post-explode projection
    // needs the generated `_b`), so the minhash kernel runs exactly once
    // per doc and the corpus is scanned exactly once per build/append.
    // The previous shape staged the signature table to parquet purely so
    // its two consumer arms (banded + signature rows) would not
    // re-shingle the corpus — a full write+read round-trip of the sig
    // table per build/append (and per streaming micro-batch append; this
    // also means a stateful foreachBatch frame is now evaluated by the
    // single write job instead of by the stage write).
    val exploded = sigs
      .select(col(idCol), col("sig"),
        explode(sequence(lit(0), lit(bands))).as("_b"))
      .select(col(idCol),
        when(col("_b") < bands, col("_b")).cast("int").as("band"),
        when(col("_b") < bands,
          Dedup.bandHash(col("sig"), col("_b"), r)).as("band_hash"),
        when(col("_b") === bands, col("sig")).as("sig"))
    // one meta row per build/append, same write job (atomic with the
    // data): id NULL distinguishes it from both data kinds
    val metaRow = session.range(1).select(
      lit(null).cast(sigs.schema(idCol).dataType).as(idCol),
      lit(n).cast("int").as("band"), lit(bands.toLong).as("band_hash"),
      lit(null).cast("array<long>").as("sig"))
    // Width sizes from the SOURCE frame's stats (parquet scan bytes at
    // real scale), not from the exploded plan: optimizer size estimates
    // through Generate+array projections are wildly inflated (measured: a
    // KB-scale test corpus estimated past the sizedWidth 2^20-partition
    // clamp, i.e. a million-task shuffle), while the doc scan's bytes are
    // real file sizes and bound the sig-table bytes at any corpus whose
    // docs out-weigh their 32-long signatures. Tiny-text corpora
    // overestimate toward MORE, smaller files; compactIndex re-sizes by
    // the real on-disk table. The old staged path's exact sizing is not
    // worth a full extra write+read of the signatures.
    val width = Compaction.sizedWidth(session, docs)
    exploded.unionByName(metaRow)
      // bucket-keyed distribution + bucket-sorted files (the BM25
      // postings pattern): each partition's file carries contiguous
      // (band, band_hash) runs, so the parquet row-group min/max stats
      // give bucket scans row-group skipping from the very first write —
      // hash distribution, not range, to avoid a sampling job per append.
      // The signature rows' key is NULL/NULL — distributing on the raw
      // columns would funnel the table's FAT column through ONE shuffle
      // partition and one writer task — so they spread by id hash instead
      // (the distribution key is not stored; band stays NULL in the data)
      .repartition(width, coalesce(col("band"), lit(-1)),
        coalesce(col("band_hash"), pmod(xxhash64(col(idCol)), lit(1000000L))))
      .sortWithinPartitions("band", "band_hash")
      .write.mode(mode).parquet(s"$indexPath/sigs")
    // after ANY successful write the stored params ARE (n, k, bands):
    // overwrite sets them, append validated equality first. Refreshing
    // here keeps the cache correct across an in-JVM rebuild and seeds it
    // for the streaming append path (no probe job on the next batch).
    paramsCache.put(indexPath, (k, (n, bands))): Unit
  }

  /** Shared candidate → verify stage: hot-bucket cap, bucket equi-join,
    * pair dedup on ids ONLY (narrow shuffle), then the signature table
    * joins back twice for the exact agree-count estimate. `deltaOnly`
    * keeps pairs with at least one `is_new` side.
    */
  private def scoredPairs(banded: DataFrame, sigs: DataFrame, idCol: String,
                          minEstJaccard: Double, maxBucketSize: Int,
                          deltaOnly: Boolean): DataFrame = {
    val hot = banded.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("_bucket_n"))
      .where(col("_bucket_n") > maxBucketSize)
      .select(col("band"), col("band_hash"))
    val buckets = banded.join(broadcast(hot), Seq("band", "band_hash"), "left_anti")
    val a = buckets.select(col(idCol).as("id_a"), col("band"),
      col("band_hash"), col("is_new").as("new_a"))
    val b = buckets.select(col(idCol).as("id_b"), col("band"),
      col("band_hash"), col("is_new").as("new_b"))
    val pairs = a.join(b, Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b") &&
        (if (deltaOnly) col("new_a") || col("new_b") else lit(true)))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val est = CrossHashExprs.sigAgree(col("sig_a"), col("sig_b"))
      .cast("double") / size(col("sig_a")).cast("double")
    pairs
      .join(sigs.select(col(idCol).as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col(idCol).as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard", est)
      .where(col("est_jaccard") >= minEstJaccard)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }
}
