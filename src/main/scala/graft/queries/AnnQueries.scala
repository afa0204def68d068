package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm._
import QueryFixtures._

/** Registered queries for approximate nearest-neighbour search over
  * `embeddings`: brute force, LSH, IVF, PQ, SQ and their combinations,
  * filtered search, recall QC and embedding-space dedup.
  */
object AnnQueries {

  val all: Seq[QuerySpec] = Seq(
    QuerySpec("q_embed_neardup", (s, d) =>
      Dedup.embeddingNearDups(embeddings(s, d), minCosine = 0.4)
        .orderBy(col("id_a"), col("id_b")),
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin),
    // --- LLM pipeline: similarity search --------------------------------
    QuerySpec("q_ann_topk", (s, d) =>
      Similarity.bruteForceTopK(embeddings(s, d), (0L until 10L), k = 10),
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
        |    FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cvec
        |    FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |    list_cosine_similarity(qvec, cvec) AS sim
        |  FROM q, c WHERE neighbor_id != query_id)
        |SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s
        |QUALIFY rank <= 10""".stripMargin),
    // bits/tables tuned for recall on ~500-5k corpora: coarser buckets
    // (2^4 = 16 cells) × 8 tables ≈ 40% of the corpus as candidates. On
    // isotropic random embeddings (this fixture — the ANN worst case) that
    // yields ~0.5 recall; real clustered embeddings bucket far better.
    QuerySpec("q_ann_lsh", (s, d) =>
      Similarity.lshTopK(embeddings(s, d), (0L until 10L), k = 10,
        bits = 4, tables = 8),
      OracleSqlGen.annLshSql(bits = 4, tables = 8, dim = 64,
        nQueries = 10, k = 10)),
    // the 100-TB signature layout: vector-FREE (tbl, bucket, id) rows —
    // the fat table stores the corpus's dominant column `tables`× — with
    // candidate vectors joined back once at rerank; same hyperplanes,
    // same buckets, so the fat-path oracle applies verbatim
    QuerySpec("q_ann_lsh_lean", (s, d) => {
      val e = embeddings(s, d)
      val sigDir = graft.core.TempDirs.scratch("lsh_lean_sig")
      Similarity.lshSignaturesLean(e, bits = 4, tables = 8, dim = 64)
        .write.parquet(sigDir)
      Similarity.lshTopKFromLeanSignatures(s.read.parquet(sigDir), e,
        (0L until 10L), k = 10)
    },
      // lean layout selects identical candidates ⇒ identical oracle
      OracleSqlGen.annLshSql(bits = 4, tables = 8, dim = 64,
        nQueries = 10, k = 10)),
    QuerySpec("q_ann_ivf", (s, d) =>
      Ivf.ivfTopK(embeddings(s, d), (0L until 10L), k = 10),
      OracleSqlGen.annIvfSql(nProbe = 4, dim = 64,
        nQueries = 10, k = 10)),
    // FILTERED vector search (the vector-DB staple): metadata predicate on
    // the corpus arm only — exact top-k over the filtered corpus, and the
    // IVF-index variant ranks the probed cells' filter survivors with the
    // predicate pushed into the embeddings scan
    QuerySpec("q_ann_topk_filtered", (s, d) =>
      Similarity.bruteForceTopK(embeddings(s, d), (0L until 10L), k = 10,
        corpusFilter = Some(col("label") % 2 === 0)),
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
        |    FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cvec
        |    FROM embeddings WHERE label % 2 = 0),
        |s AS (SELECT query_id, neighbor_id,
        |    list_cosine_similarity(qvec, cvec) AS sim
        |  FROM q, c WHERE neighbor_id != query_id)
        |SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s
        |QUALIFY rank <= 10""".stripMargin),
    QuerySpec("q_ann_ivf_filtered", (s, d) => {
      val e = embeddings(s, d)
      val idx = graft.core.TempDirs.scratch("ivf_filtered_idx")
      Ivf.buildIndexSeeded(e, idx)
      Ivf.ivfTopKFromIndex(e, idx, (0L until 10L), k = 10,
        corpusFilter = Some(col("label") % 2 === 0))
    },
      OracleSqlGen.annIvfFilteredSql(nProbe = 4,
        dim = 64, nQueries = 10, k = 10, neFilter = "nm.label % 2 = 0")),
    // the SCALE path of the same search, oracle-gated: the kernel gate drops
    // below nCells so index build runs the join-based two-level assignment
    // and the search runs the two-level probe; coarseProbes = coarseK (16 at
    // nCells=64 — exhaustive) makes both levels exact, so the flat-argmin
    // oracle applies bit-for-bit
    QuerySpec("q_ann_ivf_2l", (s, d) => {
      val prevGate = s.conf.getOption("graft.ivf.kernelMaxCells")
      val prevProbes = s.conf.getOption("graft.ivf.coarseProbes")
      s.conf.set("graft.ivf.kernelMaxCells", "16")
      s.conf.set("graft.ivf.coarseProbes", "16")
      // conf is read only while the plan is CONSTRUCTED (the build is eager),
      // so restoring in finally never races the later execution
      try Ivf.ivfTopK(embeddings(s, d), (0L until 10L), k = 10, nCells = 64)
      finally {
        prevGate.fold(s.conf.unset("graft.ivf.kernelMaxCells"))(v =>
          s.conf.set("graft.ivf.kernelMaxCells", v))
        prevProbes.fold(s.conf.unset("graft.ivf.coarseProbes"))(v =>
          s.conf.set("graft.ivf.coarseProbes", v))
      }
    },
      OracleSqlGen.annIvfSql(nProbe = 4, dim = 64,
        nQueries = 10, k = 10, fixedNCells = Some(64))),
    // product quantization, the vector-COMPRESSION scale path: the code
    // table (deterministic seeded codebooks, narrow codegen'd encode) ...
    QuerySpec("q_pq_codes", (s, d) => {
      val emb = embeddings(s, d)
      // exploded to scalar (vec_id, j, code) rows: the packed array<long>
      // stays the INDEX layout, but the registered query emits a
      // comparator-sortable shape (array cells can't be canonical-sorted)
      Pq.encode(emb, Pq.codebooks(emb, m = 8, ksub = 16))
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("j", "code")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("code"))
    },
      OracleSqlGen.pqCodesSql(m = 8, ksub = 16, dim = 64)),
    // ... and the full ADC ranking over it (m LUT lookups per corpus row,
    // broadcast query LUTs, no float vector touched) — both oracle-exact
    QuerySpec("q_pq_adc", (s, d) =>
      Pq.adcTopK(embeddings(s, d), (0L until 10L), k = 10),
      OracleSqlGen.pqAdcSql(m = 8, ksub = 16, dim = 64,
        nQueries = 10, k = 10)),
    // IVF+PQ composed (IVFADC): probes prune the code table, ADC ranks only
    // the probed cells' candidates — the billion-scale two-tier layout
    QuerySpec("q_ann_ivfpq", (s, d) =>
      Pq.ivfPqTopK(embeddings(s, d), (0L until 10L), k = 10),
      OracleSqlGen.ivfPqAdcSql(nProbe = 4, m = 8, ksub = 16,
        dim = 64, nQueries = 10, k = 10)),
    // two-stage production ANN: the compressed (ADC) scan surfaces
    // max(k, nRerank) candidates per query, an exact cosine pass over just
    // those candidates fixes the quantization error in the final order
    QuerySpec("q_ann_ivfpq_rerank", (s, d) =>
      Pq.ivfPqTopK(embeddings(s, d), (0L until 10L), k = 10, nRerank = 30),
      OracleSqlGen.ivfPqRerankSql(nProbe = 4, m = 8,
        ksub = 16, dim = 64, nQueries = 10, k = 10, nRerank = 30)),
    // FAISS-style residual IVFADC: PQ trained on x − centroid(cell(x)),
    // one LUT per (query, probed cell) — tighter codes at the same bit
    // budget; the full train→encode→probe→ADC chain replays in SQL
    QuerySpec("q_ann_ivfpq_res", (s, d) =>
      Pq.ivfPqResidualTopK(embeddings(s, d), (0L until 10L), k = 10),
      OracleSqlGen.ivfPqResidualSql(nProbe = 4, m = 8,
        ksub = 16, dim = 64, nQueries = 10, k = 10)),
    // scalar quantization (SQ8), the per-dim compression path: the code
    // table over exact corpus bounds (narrow codegen'd encode) ...
    QuerySpec("q_sq_codes", (s, d) => {
      val emb = embeddings(s, d)
      val (lo, hi) = Sq.bounds(emb)
      // scalar (vec_id, j, code) rows, same comparator-shape rule as
      // q_pq_codes; the persisted index keeps the packed array
      Sq.encode(emb, lo, hi)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("j", "code")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("code"))
    },
      OracleSqlGen.sqCodesSql(dim = 64)),
    // ... and the full ADC ranking over it (one fused dim-loop per corpus
    // row against the broadcast query vector) — both oracle-exact
    QuerySpec("q_sq_adc", (s, d) =>
      Sq.adcTopK(embeddings(s, d), (0L until 10L), k = 10),
      OracleSqlGen.sqAdcSql(dim = 64, nQueries = 10, k = 10)),
    // recall of EVERY approximate tier vs exact top-k (quality report):
    // lsh, ivf, and the compression tiers pq/sq/ivfpq. Signatures and the
    // three persisted indexes are built ONCE; the ivfpq arm reuses the ivf
    // and pq indexes rather than rebuilding its own
    QuerySpec("q_ann_recall", (s, d) => {
      import graft.core.Scratch
      val qids = (0L until 10L)
      val emb = embeddings(s, d)
      // all five arms join this identical subtree; Spark's exchange reuse
      // computes it once (staging it measured SLOWER — the extra write/read
      // round-trip costs more than the reuse saves)
      val exact = Similarity.bruteForceTopK(emb, qids, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      def recallOf(approx: DataFrame, name: String): DataFrame =
        approx.select(col("query_id"), col("neighbor_id"))
          .join(exact, Seq("query_id", "neighbor_id"))
          .agg((count(lit(1)) / (qids.size * 10.0)).as("recall"))
          .withColumn("method", lit(name))
      // the four index builds are independent eager jobs over the same
      // corpus writing to disjoint paths — overlap them
      // instead of paying four serial job barriers
      val sigDir = graft.core.TempDirs.scratch("recall_sig")
      val ivfPath = graft.core.TempDirs.scratch("recall_ivf")
      val pqPath = graft.core.TempDirs.scratch("recall_pq")
      val sqPath = graft.core.TempDirs.scratch("recall_sq")
      inParallel(
        () => { Scratch.stage(Similarity.lshSignatures(
          emb, bits = 4, tables = 8, dim = 64), "recall_sig",
          Some(sigDir)): Unit },
        () => Ivf.buildIndexSeeded(emb, ivfPath),
        () => Pq.buildIndex(emb, pqPath, m = 8, ksub = 16),
        () => Sq.buildIndex(emb, sqPath))
      val sigs = s.read.parquet(sigDir)
      recallOf(Similarity.lshTopKFromSignatures(sigs, qids, k = 10), "lsh")
        .unionAll(recallOf(
          Ivf.ivfTopKFromIndex(emb, ivfPath, qids, k = 10), "ivf"))
        .unionAll(recallOf(
          Pq.adcTopKFromIndex(emb, pqPath, qids, k = 10), "pq"))
        .unionAll(recallOf(
          Sq.adcTopKFromIndex(emb, sqPath, qids, k = 10), "sq"))
        .unionAll(recallOf(
          Pq.ivfPqTopKFromIndexes(emb, ivfPath, pqPath, qids, k = 10), "ivfpq"))
    },
      OracleSqlGen.annRecallSql(bits = 4, tables = 8,
        nProbe = 4, dim = 64, nQueries = 10, k = 10, m = 8, ksub = 16)),
    // --- SemDeDup: embedding-space dedup ---------------------------------
    QuerySpec("q_semantic_dedup", (s, d) =>
      Dedup.semanticDedup(embeddings(s, d), minCosine = 0.4),
      OracleSqlGen.semanticDedupSql(dim = 64,
        minCosine = 0.4)),
  )
}
