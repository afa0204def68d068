package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Scratch
import graft.functions.CrossHashExprs

/** Deduplication for training-data pipelines: exact (hash-groupBy), MinHash+
  * LSH near-dup, SimHash, and n-gram Jaccard verification.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact dedup is a single hash aggregate on a 128-bit digest — shuffle
  *    carries (digest, doc_id), never the text;
  *  - near-dup candidate generation is **bucketed by construction**: MinHash
  *    band hashes are the join key, so only same-bucket pairs ever meet
  *    (`groupBy` band → self-equi-join). There is NO crossJoin anywhere;
  *  - signatures are **materialized once** (Parquet staging / a stored
  *    column via [[withMinhashSignature]]) and queried many times — never
  *    recomputed per join side, and nothing stays `.persist()`-cached after
  *    the operator returns;
  *  - the blocked-Jaccard inverted index is **document-frequency capped** by
  *    default: a boilerplate shingle shared by B docs would otherwise emit
  *    O(B²) join rows;
  *  - verification (exact Jaccard) runs only on the candidate pairs.
  *
  * All sketch hashes are md5-60 ([[CrossHash]]) so the DuckDB oracle can
  * replicate every output bit-for-bit.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact-duplicate groups keyed by content fingerprint. */
  def exactDupGroups(df: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep_id"))

  /** Exact dedup: keep the min-id document of each identical-text group. */
  def dedupExact(df: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))

  /** Exact dedup with QUALITY-based survivor selection: keep the
    * highest-`scoreCol` member of each identical-text group, ties → lowest
    * id. Production pipelines keep the best-scored duplicate (metadata and
    * provenance differ even when text doesn't), not the smallest id.
    * One map-side-combinable `max_by(id, struct(score, -id))` hash
    * aggregate — the shuffle carries (hash, id, score) per group, never a
    * corpus-wide window.
    */
  def dedupExactBest(df: DataFrame, scoreCol: String,
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(max_by(col(idCol),
        struct(col(scoreCol), (-col(idCol)).as("_nid"))).as(idCol))
      .select(col(idCol))

  /** The near-dup analog of [[dedupExactBest]]: given [[dupComponents]]'
    * (id, component) table and a scored doc frame, keep the HIGHEST-scored
    * member of each near-dup cluster (ties → lowest id) instead of the
    * min-id survivor. Same map-side-combinable `max_by` shape — one hash
    * aggregate keyed by component, never a corpus-wide window; the join is
    * component-table-sized (only docs that appear in some near-dup pair).
    */
  def componentSurvivorsBest(components: DataFrame, scored: DataFrame,
                             scoreCol: String = "quality",
                             idCol: String = "doc_id"): DataFrame =
    components.select(col("id"), col("component"))
      .join(scored.select(col(idCol).as("id"), col(scoreCol).as("_score")), "id")
      .groupBy(col("component"))
      .agg(max_by(col("id"),
        struct(col("_score"), (-col("id")).as("_nid"))).as("best_id"))

  // -------------------------------------------------------------- minhash

  /** Word-level shingles (n-grams of tokens) of the normalized text. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    val starts = sequence(lit(1), greatest(size(toks) - (n - 1), lit(1)))
    array_distinct(transform(starts, i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** Base shingle hashes: each string shingle md5-60-hashed once to a long
    * (one native kernel — shingle build + hash + dedup). All k minhash
    * permutations re-mix these longs, never the strings.
    */
  def shingleHashes(text: Column, n: Int): Column =
    CrossHashExprs.shingleHashes(TextAnalysis.tokens(lower(text)), n)

  /** MinHash signature: k universal-hash permutations over the md5-60
    * shingle hashes, as one native kernel ([[CrossHashExprs.minhashSig]]).
    */
  def minhashSignature(text: Column, n: Int, k: Int): Column =
    CrossHashExprs.minhashSig(shingleHashes(text, n), k)

  /** The signature table (idCol, sig) — the thing to materialize once per
    * corpus. At ingest, store this beside the data (a `sig` column or a
    * sidecar table); every LSH query then reads ready longs.
    */
  def withMinhashSignature(df: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id",
                           n: Int = 3, k: Int = 32): DataFrame =
    df.select(col(idCol), minhashSignature(col(textCol), n, k).as("sig"))

  /** LSH banding over a *materialized* signature table: split the k-length
    * signature into `bands` bands of k/bands rows; each band md5-60-hashes
    * its slice (rendered as a comma-joined decimal string — the exact
    * encoding the oracle replicates) to one bucket key.
    * Emits (idCol, sig, band, band_hash).
    */
  def lshBucketsFromSignatures(sigs: DataFrame, idCol: String,
                               k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val r = k / bands
    sigs.select(col(idCol), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("band_hash", bandHash(col("sig"), col("band"), r))
  }

  private[llm] def bandHash(sig: Column, band: Column, r: Int): Column =
    graft.functions.CrossHashExprs.md5h60(concat_ws(",",
      slice(sig, band * r + 1, lit(r)).cast("array<string>")))

  /** Near-dup candidate pairs from a materialized signature table: self-join
    * the bucket table on (band, band_hash) — only same-bucket docs pair up.
    * Estimated Jaccard = fraction of agreeing minhash components; pairs
    * below `minEstJaccard` are dropped.
    *
    * `sigs` must be a materialized source (Parquet/staged) — the band
    * explode and both join sides re-scan it, and scanning a columnar file of
    * (id, 32 longs) is the cheap, cache-free way to do that.
    */
  def nearDupPairsFromSignatures(sigs: DataFrame, idCol: String = "doc_id",
                                 k: Int = 32, bands: Int = 8,
                                 minEstJaccard: Double = 0.5,
                                 maxBucketSize: Int = 10000): DataFrame = {
    val raw = lshBucketsFromSignatures(sigs, idCol, k, bands)
    // Hot-bucket cap: a bucket holding B docs emits B² candidate pairs; a
    // boilerplate-duplicate flood (one bucket with 1M docs) would be a
    // quadratic blowup. Buckets past the cap are dropped here — their
    // members still pair through their OTHER bands, and true duplicate
    // floods should be removed by exact dedup before near-dup anyway.
    val hot = raw.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("_bucket_n"))
      .where(col("_bucket_n") > maxBucketSize)
      .select(col("band"), col("band_hash"))
    val buckets = raw.join(broadcast(hot), Seq("band", "band_hash"), "left_anti")
    val a = buckets.select(col(idCol).as("id_a"), col("sig").as("sig_a"),
      col("band"), col("band_hash"))
    val b = buckets.select(col(idCol).as("id_b"), col("sig").as("sig_b"),
      col("band"), col("band_hash"))
    // native agree-count kernel — the pair stage's whole estimate stays
    // inside whole-stage codegen (no interpreted HOF fold per candidate)
    val est = CrossHashExprs.sigAgree(col("sig_a"), col("sig_b"))
      .cast("double") / k
    a.join(b, Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .distinct()
      .withColumn("est_jaccard", est)
      .where(col("est_jaccard") >= minEstJaccard)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Convenience end-to-end near-dup: compute signatures once, stage them to
    * Parquet (the materialize-once barrier — replaces round 2's leaked
    * `.persist()`), then pair via [[nearDupPairsFromSignatures]].
    */
  def nearDupPairs(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                   n: Int = 3, k: Int = 32, bands: Int = 8,
                   minEstJaccard: Double = 0.5,
                   maxBucketSize: Int = 10000,
                   scratchPath: Option[String] = None): DataFrame = {
    val sigs = Scratch.stage(
      withMinhashSignature(Scratch.rebalance(df, heavy = true), textCol, idCol, n, k),
      "minhash_sig", scratchPath)
    nearDupPairsFromSignatures(sigs, idCol, k, bands, minEstJaccard, maxBucketSize)
  }

  /** Winnowing fingerprints (the MOSS local-fingerprinting scheme): char
    * `kChars`-gram md5-60 hashes over the whitespace-normalized lowercased
    * text, one SELECTED hash per sliding window of `window` consecutive
    * grams (the window minimum), distinct per doc. The winnowing guarantee:
    * any shared substring of at least `kChars + window − 1` characters
    * yields at least one shared selected fingerprint — so PARTIAL overlap
    * (doc A embeds a paragraph of doc B) is detectable where whole-doc
    * minhash dilutes it away.
    *
    * Output: (idCol, fp) exploded, distinct per doc. Hashing + window
    * minima run as ONE native kernel per row
    * ([[graft.functions.WinnowExpr]]: positional md5-60 + an O(n)
    * monotonic-deque window minimum) — the interpreted per-element
    * `md5 → hex → conv` pipeline this replaces was the bench's slowest
    * query at sf0.1.
    */
  def winnowFingerprints(docs: DataFrame, kChars: Int = 8, window: Int = 4,
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
      explode(CrossHashExprs.winnowFps(
        regexp_replace(lower(col(textCol)), "\\s+", " "), kChars, window))
        .as("fp"))

  /** Partial-overlap pairs over [[winnowFingerprints]]: an inverted index
    * on the selected fingerprints, document-frequency capped (ubiquitous
    * fingerprints are boilerplate, and at scale a hot fingerprint would
    * quadratically explode its self-join bucket), self-equi-joined and
    * reduced to pairs sharing at least `minShared` fingerprints. The same
    * staged-index + capped-join shape as [[blockedJaccard]] — never a
    * cross join, shuffles carry hashes only.
    */
  def winnowOverlapPairs(docs: DataFrame, kChars: Int = 8, window: Int = 4,
                         minShared: Long = 2, maxDocFreq: Long = 100,
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    val inv = Scratch.stage(
      winnowFingerprints(Scratch.rebalance(docs, heavy = true), kChars, window, textCol, idCol)
        .select(col(idCol).as("id"), col("fp")),
      "winnow_inv")
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val capped = inv
      .withColumn("_df", count(lit(1)).over(wDf))
      .where(col("_df") <= maxDocFreq)
      .select(col("id"), col("fp"))
    capped.as("a")
      .join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** LSH-tier QC: recall of [[nearDupPairs]]' banded candidates against
    * the EXACT set-Jaccard ground truth at the same threshold — one row of
    * (n_exact, n_found, recall), integer counts with one final division.
    * The estimate threshold is applied to est-Jaccard and the truth
    * threshold to exact Jaccard, so the number reflects what the tier's
    * users actually see (banding misses AND estimator misses together).
    *
    * Ground truth runs [[blockedJaccard]] with a constant block and no
    * doc-frequency cap — all-shared-shingle-pairs shaped, so at scale the
    * QC runs on a SAMPLE: `sampleFraction < 1` restricts the exact arm to
    * the deterministic md5-bucket subset ([[Sampling.hashSample]], salt
    * "recall"), bounding the quadratic by construction, and recall is then
    * measured over exact pairs WITHIN the sample (the LSH side stays the
    * production-shaped banded join over the full corpus, so sampled recall
    * reflects the production candidate generator).
    */
  def nearDupRecall(docs: DataFrame, n: Int = 3, k: Int = 32, bands: Int = 8,
                    minJaccard: Double = 0.5,
                    sampleFraction: Double = 1.0,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val lsh = nearDupPairs(docs, textCol, idCol, n, k, bands,
      minEstJaccard = minJaccard)
    val exactDocs =
      if (sampleFraction >= 1.0) docs
      else Sampling.hashSample(docs, sampleFraction, idCol, salt = "recall")
    val exact = blockedJaccard(exactDocs.withColumn("_all", lit(1)), "_all",
      textCol, idCol, n, minJaccard, maxDocFrac = 1.0)
    exact.select(col("id_a"), col("id_b"))
      .join(lsh.select(col("id_a"), col("id_b"), lit(1L).as("_hit")),
        Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).cast("long").as("n_exact"),
        coalesce(sum(col("_hit")), lit(0L)).cast("long").as("n_found"))
      .withColumn("recall",
        when(col("n_exact") > 0,
          col("n_found").cast("double") / col("n_exact")))
  }

  // ------------------------------------------------------ n-gram jaccard

  /** Blocked exact Jaccard: all qualifying pairs within a blocking key (e.g.
    * source), via an inverted-index equi-join — NOT per-pair array
    * intersection. Explode the distinct shingle-hash set, self-join on
    * (block, shingle) so only docs sharing a shingle ever meet, count
    * matches per pair (= |A∩B|), and derive |A∪B| = |A|+|B|−|A∩B| from
    * per-doc set sizes. Everything after the explode is codegen'd
    * shuffle/join/agg, and the shuffle carries (block, hash, id), never text.
    *
    * **Document-frequency cap (on by default):** shingles appearing in more
    * than `maxDocFrac` of a block's documents are dropped from the inverted
    * index before pairing. On low-entropy corpora (boilerplate, templated
    * text) the hottest shingles produce O(blockDocs²) pair rows while
    * carrying no discriminative signal — the standard mitigation in
    * production near-dup pipelines, and the one real 100-TB scale hazard in
    * this operator family. Jaccard is computed over the CAPPED sets (sizes
    * recomputed after the cap), so the score stays a true Jaccard of the
    * filtered representation. Pass `maxDocFrac = 1.0` for the uncapped
    * exact variant on curated inputs.
    */
  def blockedJaccard(df: DataFrame, blockCol: String, textCol: String = "text",
                     idCol: String = "doc_id", n: Int = 3,
                     minJaccard: Double = 0.1,
                     maxDocFrac: Double = 0.5): DataFrame = {
    // one scan hashes the shingles; the staged (blk, id, s) index feeds the
    // doc-frequency window, both self-join sides, and the size recount
    val inverted = Scratch.stage(
      Scratch.rebalance(df, heavy = true)
        .select(col(blockCol).as("blk"), col(idCol).as("id"),
          shingleHashes(col(textCol), n).as("h0"))
        .select(col("blk"), col("id"), explode(col("h0")).as("s")),
      "jaccard_inv")
    // At maxDocFrac >= 1 the cap is vacuous — each doc's shingles are
    // distinct ([[graft.functions.ShingleHashExpr]] dedups in-kernel), so
    // a shingle's (blk, s) row count can never exceed the block's doc
    // count — and the window below would cost a full sort of the inverted
    // index just to compute an always-true predicate. Skip it outright;
    // the uncapped arm (nearDupRecall's exact ground truth) pairs straight
    // off the staged index.
    val kept =
      if (maxDocFrac >= 1.0) inverted.select(col("blk"), col("s"), col("id"))
      else {
        // block doc counts from a pruned scan of the source (blockCol only)
        val blockSizes = df.groupBy(col(blockCol).as("blk"))
          .agg(count(lit(1)).as("n_docs"))
        // doc frequency as a window over (blk, s): one shuffle that the
        // (blk, s) self-join below reuses, instead of aggregate + re-join
        val wDf = org.apache.spark.sql.expressions.Window
          .partitionBy(col("blk"), col("s"))
        inverted
          .join(broadcast(blockSizes), Seq("blk"))
          .withColumn("df_n", count(lit(1)).over(wDf))
          .where(col("df_n") <= col("n_docs") * maxDocFrac)
          .select(col("blk"), col("s"), col("id"))
      }
    val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val inter = kept.as("a")
      .join(kept.as("b"),
        col("a.blk") === col("b.blk") && col("a.s") === col("b.s") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Boilerplate report: the `topK` shingles by document frequency — the
    * corpus-level n-gram scan that CALIBRATES [[blockedJaccard]]'s
    * doc-frequency cap (and exposes templated text to strip before
    * training). Global top-k via orderBy+limit — Spark plans
    * TakeOrderedAndProject (per-partition heaps + merge), never a
    * single-partition window over all distinct shingles.
    */
  def boilerplateShingles(df: DataFrame, textCol: String = "text",
                          n: Int = 3, topK: Int = 20): DataFrame = {
    val top = df.select(explode(shingleHashes(col(textCol), n)).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df_n"))
      .orderBy(col("df_n").desc, col("s"))
      .limit(topK)
    // rank over the topK-row result only (metadata-sized window)
    top.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("df_n").desc, col("s"))).cast("long"))
  }

  /** Connected components of the near-dup pair graph — the canonical step
    * AFTER LSH: near-duplication is transitive in intent (a~b, b~c ⇒ one
    * cluster), so survivors must be chosen per component, not per pair.
    *
    * Min-label propagation with **pointer doubling** over the (tiny relative
    * to the corpus) pair graph. Each round: (1) every node takes the min
    * label among itself and its neighbors (1 hop of new information), then
    * (2) follows its label's label (`lbl := lbl(lbl)`), so the distance a
    * label has travelled DOUBLES per round — convergence in O(log₂ diameter)
    * rounds, not O(diameter): a 1000-node chain closes in 9 rounds, and
    * `maxIters = 50` covers diameters beyond 2⁴⁹ (i.e. any real graph; a
    * non-convergent exit throws rather than returning wrong components).
    *
    * The convergence check rides the round's own write pass as an
    * [[org.apache.spark.sql.Observation]] metric — no separate count() job;
    * each round costs exactly two staged writes (merged labels, doubled
    * labels), each a lineage cut, nothing cached.
    * Returns (id, component = min id reachable, is_survivor).
    */
  def dupComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    dupComponentsIterated(pairs, maxIters)._1

  /** Edge-count gate below which components are solved on the DRIVER with
    * union-find instead of iterative Spark rounds. The near-dup pair graph
    * is orders of magnitude smaller than the corpus (only near-duplicate
    * pairs survive LSH + the estimate threshold); when it fits comfortably
    * in driver memory — 1M edges is on the order of 100 MB once boxed into
    * tuples and the parent map — a linear union-find beats several
    * join/aggregate rounds of fixed scheduling overhead. The same
    * size-vs-strategy trade as a broadcast join; bigger graphs take the
    * O(log diameter) pointer-doubling path below. Tunable via the
    * `graft.cc.driverMaxEdges` Spark conf (0 forces the distributed path).
    */
  private def driverCcMaxEdges(sess: org.apache.spark.sql.SparkSession): Long =
    sess.conf.getOption("graft.cc.driverMaxEdges").map(_.toLong).getOrElse(1000000L)

  /** [[dupComponents]] plus the number of distributed rounds it took (0 =
    * driver union-find path; for tests/QC). */
  private[graft] def dupComponentsIterated(pairs: DataFrame,
                                           maxIters: Int = 50): (DataFrame, Int) = {
    // stage the (possibly expensive) pair plan ONCE; the doubled edge list
    // the distributed path needs is a lazy union over the staged file, and
    // the driver path reads undirected pairs directly
    val staged = Scratch.stage(pairs.select(col("id_a"), col("id_b")), "cc_pairs")
    val nEdges = 2 * staged.count() // Parquet metadata count on the staged file
    // the driver union-find is long-keyed; non-integral id columns (string
    // doc ids…) always take the distributed path — otherwise behavior would
    // diverge BY DATA SIZE (big graphs fine, small ones crashing on the cast)
    val integralIds = staged.schema.fields.forall(_.dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    })
    if (integralIds && nEdges <= driverCcMaxEdges(pairs.sparkSession))
      return (dupComponentsDriver(staged.select(
        col("id_a").as("src"), col("id_b").as("dst"))), 0)
    val edges = staged.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(staged.select(col("id_b").as("src"), col("id_a").as("dst")))
    var labels = Scratch.stage(
      edges.select(col("src").as("id")).distinct().withColumn("lbl", col("id")),
      "cc_labels")
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      // (1) min over self + neighbors' labels. Used twice below — as itself
      // and as the pointer table — but NOT staged: the two sides are the
      // identical aggregate subplan, so Spark's exchange reuse computes it
      // once (one staged write per round total, not two).
      val prop = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("lbl"))
      val merged = labels.unionAll(prop).groupBy("id").agg(min(col("lbl")).as("lbl"))
      // (2) pointer doubling: lbl := min(lbl, lbl(lbl)). Every label IS a
      // node id (mins of ids), so the hop join is total.
      val hop = merged.select(col("id").as("_pid"), col("lbl").as("_plbl"))
      val prev = labels.select(col("id"), col("lbl").as("_old"))
      val obs = org.apache.spark.sql.Observation(s"cc_round_$iter")
      val next = Scratch.stage(
        merged.join(hop, merged("lbl") === hop("_pid"))
          .select(merged("id"), least(merged("lbl"), col("_plbl")).as("lbl"))
          .join(prev, "id")
          .observe(obs, coalesce(sum((col("lbl") =!= col("_old")).cast("long")),
            lit(0L)).as("changed"))
          .select(col("id"), col("lbl")),
        "cc_labels")
      changed = obs.get("changed").asInstanceOf[Long]
      labels = next
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"dupComponents did not converge in $maxIters rounds — component " +
          "labels would be wrong; raise maxIters")
    (labels.select(col("id"), col("lbl").as("component"),
      (col("id") === col("lbl")).as("is_survivor")), iter)
  }

  /** Exact union-find over a collected (src, dst) edge list; component =
    * min member id (roots union toward the smaller id, so the final find
    * IS the min — identical labels to the distributed path and the
    * oracle's recursive reachability). Callers gate on integral id types;
    * the output is cast back to the input id type so both paths return
    * the same schema.
    */
  private def dupComponentsDriver(edges: DataFrame): DataFrame = {
    val sess = edges.sparkSession
    import sess.implicits._
    val idType = edges.schema.head.dataType
    val es = edges.select(col("src"), col("dst")).as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val rows = parent.keySet().toArray(Array.empty[java.lang.Long])
      .map(id => (id.toLong, find(id)))
    rows.toSeq.toDF("id", "component")
      .select(col("id").cast(idType).as("id"),
        col("component").cast(idType).as("component"))
      .withColumn("is_survivor", col("id") === col("component"))
  }

  /** Train/test decontamination: for every evaluation document, the
    * fraction of its DISTINCT word n-grams that also occur ANYWHERE in the
    * training corpus — the standard benchmark-contamination check run
    * before training. Distinctness needs no extra `array_distinct` here:
    * [[shingleHashes]] (ShingleHashExpr) deduplicates within the document
    * by construction, so `n_grams` is the distinct-shingle count and
    * `n_overlap` counts each contaminated gram once however often it
    * repeats. Returns (idCol, n_grams, n_overlap, overlap_frac) for every
    * test doc (zero-overlap docs included; docs shorter than n tokens have
    * one truncated shingle, like the rest of the shingle family).
    *
    * Scale shape: the training side collapses to its DISTINCT md5-60 n-gram
    * set — a hash aggregate with map-side combine whose output is the
    * vocabulary size, not the corpus size — and the check is an equi-join
    * on the hash: shuffle carries (hash) and (id, hash), never text. At
    * 100 TB the train-gram set is computed ONCE and persisted beside the
    * corpus (stage it via [[graft.core.Scratch.stage]] and reuse across
    * eval sets).
    */
  def contamination(train: DataFrame, test: DataFrame,
                    textCol: String = "text", idCol: String = "doc_id",
                    n: Int = 5): DataFrame = {
    val trainGrams = train
      .select(explode(shingleHashes(col(textCol), n)).as("s")).distinct()
    val testGrams = test.select(col(idCol),
      explode(shingleHashes(col(textCol), n)).as("s"))
    contaminationVerify(trainGrams, testGrams, test, textCol, idCol, n)
  }

  /** Exact-verify tail shared by [[contamination]] and
    * [[contaminationBloom]]: equi-join test grams against the train gram
    * set, count overlaps per doc, left-join back for zero-overlap docs.
    */
  private def contaminationVerify(trainGrams: DataFrame, testGrams: DataFrame,
                                  test: DataFrame, textCol: String,
                                  idCol: String, n: Int): DataFrame = {
    val sizes = test.select(col(idCol),
      size(shingleHashes(col(textCol), n)).cast("long").as("n_grams"))
    val overlaps = testGrams.join(trainGrams, "s")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
    sizes.join(overlaps, Seq(idCol), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("overlap_frac",
        when(col("n_grams") > 0,
          col("n_overlap").cast("double") / col("n_grams").cast("double"))
          .otherwise(0.0))
  }

  /** [[contamination]] with a Bloom prefilter on the corpus side —
    * IDENTICAL output, cheaper shuffle. The benchmark (`train`) side is
    * small by nature; its distinct gram hashes build a Bloom filter that
    * rides the corpus (`test`) scan as a codegen'd predicate
    * ([[graft.functions.BloomExprs]]), so the exact-verify equi-join only
    * shuffles grams that MIGHT overlap — for a mostly-clean corpus the
    * shuffle shrinks ~1/fpp ×. Bloom false positives are removed by the
    * exact join, so bloom bits never affect the answer (the oracle is
    * contamination's own).
    *
    * The filter is built with `stat.bloomFilter` — a driver-side aggregate,
    * gated at `graft.bloom.maxItems` (default 5×10⁷ ≈ 60 MB of bits at 1%
    * fpp). A benchmark suite above the gate should use plain
    * [[contamination]], whose train side never visits the driver.
    */
  def contaminationBloom(train: DataFrame, test: DataFrame,
                         textCol: String = "text", idCol: String = "doc_id",
                         n: Int = 5, fpp: Double = 0.01): DataFrame = {
    val spark = train.sparkSession
    val trainGrams = graft.core.Scratch.stage(
      train.select(explode(shingleHashes(col(textCol), n)).as("s")).distinct(),
      "contam_grams")
    val nGrams = math.max(trainGrams.count(), 1L)
    val maxItems = spark.conf.get("graft.bloom.maxItems", "50000000").toLong
    require(nGrams <= maxItems,
      s"contaminationBloom: train side has $nGrams distinct grams > " +
        s"graft.bloom.maxItems=$maxItems; use contamination() instead")
    val bloomBytes = graft.functions.BloomExprs.serialize(
      trainGrams.stat.bloomFilter("s", nGrams, fpp))
    val testGrams = test.select(col(idCol),
        explode(shingleHashes(col(textCol), n)).as("s"))
      .where(graft.functions.BloomExprs.mightContain(col("s"), bloomBytes))
    contaminationVerify(trainGrams, testGrams, test, textCol, idCol, n)
  }

  // -------------------------------------------------------------- simhash

  /** 60-bit SimHash over md5-60 token hashes: bit j of the fingerprint is
    * the sign of the vote sum over the tokens' j-th hash bits. One native
    * kernel per row ([[CrossHashExprs.simhash]]); 60 bits (not 64) because
    * the cross-engine hash is md5-60.
    */
  def withSimhash(df: DataFrame, textCol: String = "text",
                  out: String = "simhash"): DataFrame = {
    val hashes = CrossHashExprs.md5h60Array(
      array_distinct(TextAnalysis.tokens(lower(col(textCol)))))
    df.withColumn(out, CrossHashExprs.simhash(hashes, bits = 60))
  }

  /** Hamming distance between two simhash fingerprints (popcount of XOR). */
  def hammingDistance(a: Column, b: Column): Column =
    call_function("bit_count", a.bitwiseXOR(b))

  /** SimHash near-dup pairs — the cheap tier below MinHash+LSH for
    * near-IDENTICAL text: one 60-bit fingerprint per doc (not k=32 minhash
    * components), bit-band blocking instead of shingle-set banding.
    *
    * The 60-bit fingerprint splits into `bands` disjoint bit slices
    * (default 4 × 15 bits); candidates are pairs agreeing EXACTLY on at
    * least one slice (equi-join on (band, band_bits) — never all-pairs), and
    * survivors verify with the full Hamming distance ≤ `maxHamming`. By
    * pigeonhole the blocking is LOSSLESS for maxHamming < bands: ≤ 3
    * differing bits cannot touch all 4 bands, so every qualifying pair
    * shares at least one exact band. Same 100-TB shape as
    * [[nearDupPairsFromSignatures]]: fingerprints staged once, the shuffle
    * carries (band, band_bits, id, fingerprint) — 3 longs and a short — and
    * the hot-bucket cap bounds the quadratic blowup of a fingerprint flood
    * (capped members still pair through their other bands).
    *
    * Emits (id_a, id_b, hamming), id_a < id_b, deduplicated across bands.
    */
  def simhashNearDupPairs(df: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id",
                          bands: Int = 4, maxHamming: Int = 3,
                          maxBucketSize: Int = 10000,
                          scratchPath: Option[String] = None): DataFrame = {
    val bits = 60
    require(bands > 0 && bits % bands == 0, s"bands=$bands must divide $bits")
    require(maxHamming < bands,
      s"maxHamming=$maxHamming needs > $maxHamming bands for lossless " +
        s"blocking (got $bands) — raise bands or use MinHash LSH")
    val width = bits / bands
    val fp = Scratch.stage(
      withSimhash(Scratch.rebalance(df, heavy = true), textCol).select(col(idCol), col("simhash")),
      "simhash_fp", scratchPath)
    val banded = fp.select(col(idCol), col("simhash"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("band_bits",
        call_function("shiftrightunsigned", col("simhash"), col("band") * width)
          .bitwiseAND(lit((1L << width) - 1)))
    val hot = banded.groupBy(col("band"), col("band_bits"))
      .agg(count(lit(1)).as("_bucket_n"))
      .where(col("_bucket_n") > maxBucketSize)
      .select(col("band"), col("band_bits"))
    val cool = banded.join(broadcast(hot), Seq("band", "band_bits"), "left_anti")
    val a = cool.select(col(idCol).as("id_a"), col("simhash").as("sh_a"),
      col("band"), col("band_bits"))
    val b = cool.select(col(idCol).as("id_b"), col("simhash").as("sh_b"),
      col("band"), col("band_bits"))
    a.join(b, Seq("band", "band_bits"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .distinct()
      .withColumn("hamming",
        hammingDistance(col("sh_a"), col("sh_b")).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Paragraph-level exact dedup: drop every paragraph whose text already
    * occurs elsewhere in the corpus, keeping only its FIRST occurrence
    * (lexicographic min (doc, ordinal)) — the paragraph-granular cleaning
    * pass web-corpus pipelines run before doc-level dedup (boilerplate
    * headers/footers repeat across docs while the docs themselves differ).
    * Blank paragraphs are dropped unconditionally.
    *
    * Scale shape: paragraphs are hashed (md5-60) the moment they are split,
    * so the winner groupBy and the winner join shuffle (id, ord, hash)
    * triples — never paragraph text. The cleaned text is rebuilt by joining
    * the per-doc kept-ordinal ARRAY (one small row per doc) back to the
    * original docs and re-splitting in a narrow map: document text crosses
    * exactly one doc_id-keyed join, once.
    *
    * Emits one row per input doc: (idCol, clean_text, n_paras, n_kept,
    * n_dropped); a doc whose every paragraph is a repeat survives with
    * clean_text = ''.
    */
  def dedupParagraphs(docs: DataFrame, sep: String = "\n",
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val parts = split(col(textCol), java.util.regex.Pattern.quote(sep), -1)
    val paras = docs
      .select(col(idCol).as("_pid"), posexplode(parts).as(Seq("ord", "_para")))
      .where(trim(col("_para")) =!= "")
      .select(col("_pid"), col("ord"),
        graft.functions.CrossHashExprs.md5h60(col("_para")).as("_phash"))
    val winners = paras.groupBy("_phash")
      .agg(min(struct(col("_pid"), col("ord"))).as("_w"))
    val keptOrds = paras.join(winners, "_phash")
      .where(col("_pid") === col("_w._pid") && col("ord") === col("_w.ord"))
      .groupBy(col("_pid"))
      .agg(sort_array(collect_list(col("ord"))).as("_kept"))
    val kept = coalesce(col("_kept"), array().cast("array<int>"))
    docs.join(keptOrds, docs(idCol) === keptOrds("_pid"), "left")
      .select(col(idCol),
        array_join(filter(parts, (_, i) => array_contains(kept, i)), sep)
          .as("clean_text"),
        size(filter(parts, p => trim(p) =!= "")).cast("long").as("n_paras"),
        size(kept).cast("long").as("n_kept"))
      .withColumn("n_dropped", col("n_paras") - col("n_kept"))
  }

  /** Line-frequency filter (the C4 cleaning rule): drop every line that
    * occurs in at least `maxDocs` DISTINCT documents — corpus-wide
    * boilerplate (cookie banners, nav bars, license footers) repeats across
    * unrelated pages, and unlike [[dedupParagraphs]] no occurrence
    * survives, not even the first. Lines shorter than `minChars` are never
    * banned (blank lines and markup stubs repeat legitimately); repeats
    * WITHIN one document don't count toward the threshold.
    *
    * Scale shape: same as [[dedupParagraphs]] — lines hash to md5-60 at the
    * split, the frequency aggregate and the ban join shuffle (id, ord,
    * hash) triples, never line text; the banned-ordinal array (usually
    * empty) joins back doc-keyed, and the cleaned text is rebuilt in a
    * narrow map. Document text crosses exactly one doc_id-keyed join, once.
    *
    * Emits one row per input doc: (idCol, clean_text, n_lines, n_kept);
    * a doc made entirely of boilerplate survives with clean_text = ''.
    */
  def filterRepeatedLines(docs: DataFrame, maxDocs: Int = 3,
                          minChars: Int = 10, sep: String = "\n",
                          textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    require(maxDocs >= 2, s"maxDocs must be at least 2, got $maxDocs")
    val parts = split(col(textCol), java.util.regex.Pattern.quote(sep), -1)
    val lines = docs
      .select(col(idCol).as("_lid"), posexplode(parts).as(Seq("ord", "_line")))
      .where(length(col("_line")) >= minChars)
      .select(col("_lid"), col("ord"),
        graft.functions.CrossHashExprs.md5h60(col("_line")).as("_lh"))
    val banned = lines.groupBy("_lh")
      .agg(countDistinct(col("_lid")).as("_nd"))
      .where(col("_nd") >= maxDocs)
      .select("_lh")
    val bannedOrds = lines.join(banned, "_lh")
      .groupBy(col("_lid"))
      .agg(sort_array(collect_list(col("ord"))).as("_banned"))
    val bset = coalesce(col("_banned"), array().cast("array<int>"))
    docs.join(bannedOrds, docs(idCol) === bannedOrds("_lid"), "left")
      .select(col(idCol),
        array_join(filter(parts, (_, i) => !array_contains(bset, i)), sep)
          .as("clean_text"),
        size(parts).cast("long").as("n_lines"),
        (size(parts) - size(bset)).cast("long").as("n_kept"))
  }

  // ----------------------------------------------- exact substring spans

  /** Cross-document EXACT duplicated-substring spans at token-n-gram
    * granularity — the span-level tier below document/paragraph dedup
    * (after Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better": a substring long enough to repeat VERBATIM across
    * documents is near-always boilerplate or copied text, and removing the
    * span beats dropping either whole document).
    *
    * Instead of a distributed suffix array, duplication is detected at
    * n-token granularity: every position's n-gram is md5-60 hashed
    * ([[CrossHashExprs.gramHashes]] — one positional kernel per row); a
    * gram appearing in >= `minDocs` DISTINCT documents marks all its
    * occurrences as duplicated; per document, marked positions closer than
    * `n` tokens merge (gaps-and-islands over a per-doc window) into maximal
    * spans `[span_start, span_end]` (0-based token indices, inclusive).
    * Every maximal duplicated run of m >= n tokens is recovered exactly:
    * its m-n+1 gram starts are all marked and chain into one island.
    *
    * Scale: the gram explode is corpus-token-count rows of (hash, id, pos)
    * longs — text never shuffles; doc-frequency is a two-stage hash
    * aggregate on the gram hash; the island window partitions by doc_id
    * (bounded by document length, never corpus-wide). The span report
    * composes with [[dedupParagraphs]]-style rewriting or masking at the
    * caller's policy layer.
    */
  def duplicateNgramSpans(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id", n: Int = 8,
                          minDocs: Int = 2,
                          scratchPath: Option[String] = None): DataFrame = {
    require(n >= 2, s"span gram size must be at least 2, got $n")
    require(minDocs >= 2, s"minDocs must be at least 2, got $minDocs")
    val toks = graft.llm.TextAnalysis.tokens(lower(col(textCol)))
    // the gram table feeds BOTH the doc-frequency aggregate and the
    // position join; staged once so the corpus tokenize+hash pass runs
    // once, and both consumers read (id, pos, hash) longs
    val grams = Scratch.stage(
      docs.select(col(idCol),
        posexplode(CrossHashExprs.gramHashes(toks, n)).as(Seq("pos", "_gh"))),
      "dup_gram", scratchPath)
    val dup = grams.select(col("_gh"), col(idCol)).distinct()
      .groupBy("_gh").agg(count(lit(1)).as("_df"))
      .where(col("_df") >= minDocs).select("_gh")
    val dupPos = grams.join(dup, "_gh").select(col(idCol), col("pos"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val prev = lag(col("pos"), 1).over(byDoc)
    // two marked positions <= n apart belong to one duplicated run
    // (overlapping or back-to-back grams) — merge; island id = running
    // count of break points
    val isNew = when(prev.isNull || col("pos") - prev > n, 1L).otherwise(0L)
    dupPos.withColumn("_island", sum(isNew).over(byDoc))
      .groupBy(col(idCol), col("_island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (n - 1)).cast("long").as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1L)
      .select(col(idCol), col("span_start"), col("span_end"),
        col("span_tokens"))
  }
}
