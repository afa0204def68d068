package graft
package queries

import org.apache.spark.sql.functions._

import graft.llm._
import QueryFixtures._

/** Registered queries for LLM corpus preparation over `documents`: exact
  * and near-duplicate detection, text statistics and quality rules,
  * tokenization, retrieval, packing and sampling, and multimodal payload
  * plumbing.
  */
object LlmCorpusQueries {

  // SQL shared between standalone entries and the q_corpus_prep combine
  private val qualitySqlStr =
    """WITH t AS (SELECT doc_id, text,
      |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
      |  FROM documents),
      |m AS (SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars_c,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(len(list_filter(toks, x -> lower(x) IN
      |      ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS n_stop,
      |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT)
      |      AS n_punct,
      |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_tok
      |  FROM t)
      |SELECT doc_id,
      |  (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
      |  + (CASE WHEN CAST(sum_tok AS DOUBLE) / n_tokens BETWEEN 2.0 AND 12.0
      |      THEN 1.0 ELSE 0.0 END) * 0.2
      |  + (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.01 THEN 1.0 ELSE 0.0 END) * 0.2
      |  + (CASE WHEN CAST(n_punct AS DOUBLE) / n_chars_c < 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
      |    AS quality,
      |  (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
      |  + (CASE WHEN CAST(sum_tok AS DOUBLE) / n_tokens BETWEEN 2.0 AND 12.0
      |      THEN 1.0 ELSE 0.0 END) * 0.2
      |  + (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.01 THEN 1.0 ELSE 0.0 END) * 0.2
      |  + (CASE WHEN CAST(n_punct AS DOUBLE) / n_chars_c < 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
      |    >= 0.6 AS keep
      |FROM m""".stripMargin

  private val fingerprintSqlStr =
    """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      |FROM documents""".stripMargin

  private val tokenCountSqlStr =
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS BIGINT)
      |    AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text,
      |    '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+', 0))
      |    AS BIGINT) AS n_bpeish
      |FROM documents""".stripMargin

  val all: Seq[QuerySpec] = Seq(
    // --- LLM pipeline: dedup --------------------------------------------
    QuerySpec("q_dedup_exact", (s, d) => Dedup.exactDupGroups(documents(s, d)),
      """SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin),
    QuerySpec("q_dedup_survivors", (s, d) => Dedup.dedupExact(documents(s, d)),
      "SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)"),
    // quality-ranked survivor selection (keep the best-scored duplicate)
    QuerySpec("q_dedup_best", (s, d) =>
      Dedup.dedupExactBest(
        TextAnalysis.qualityScore(documents(s, d)), "quality"),
      """WITH t AS (SELECT doc_id, md5(text) AS h, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, h,
        |    CAST(length(text) AS BIGINT) AS n_chars_c,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, x -> lower(x) IN
        |      ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS n_stop,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT)
        |      AS n_punct,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_tok
        |  FROM t),
        |q AS (SELECT doc_id, h,
        |    (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
        |    + (CASE WHEN CAST(sum_tok AS DOUBLE) / n_tokens BETWEEN 2.0 AND 12.0
        |        THEN 1.0 ELSE 0.0 END) * 0.2
        |    + (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.01 THEN 1.0 ELSE 0.0 END) * 0.2
        |    + (CASE WHEN CAST(n_punct AS DOUBLE) / n_chars_c < 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
        |      AS quality
        |  FROM m)
        |SELECT doc_id FROM (SELECT doc_id,
        |    row_number() OVER (PARTITION BY h ORDER BY quality DESC, doc_id) AS rn
        |  FROM q) WHERE rn = 1""".stripMargin),
    QuerySpec("q_neardup_lsh", (s, d) => Dedup.nearDupPairs(documents(s, d)),
      OracleSqlGen.nearDupLshSql()),
    // ADVERSARIAL-SKEW variant: a Zipf-shaped
    // boilerplate flood — 30% of docs share the long fixed preamble, so
    // their minhash bands collide into a handful of quadratic-blowup
    // buckets. maxBucketSize=64 makes the hot-bucket cap ENGAGE at
    // sf0.01+ (the 10000 default never fires on the clean fixtures):
    // flooded buckets are dropped, members still pair through their
    // diverse bands, and the oracle replicates the documented cap
    // semantics (QUALIFY count(*) OVER bucket <= cap) bit-for-bit.
    QuerySpec("q_neardup_lsh_skew", (s, d) => {
      val docs = documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 10 < 3,
          concat(lit(SkewBoilerplate), lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.nearDupPairs(docs, maxBucketSize = 64)
    },
      OracleSqlGen.nearDupLshSql(maxBucketSize = 64,
        docsFrom = "(SELECT doc_id, CASE WHEN doc_id % 10 < 3 THEN " +
          s"'$SkewBoilerplate' || ' ' || text ELSE text END AS text " +
          "FROM documents) skew_docs")),
    // dedup-index lifecycle (the near-dup mirror of q_bm25_compact): build
    // from a split, append the rest, compact, query — must reproduce the
    // from-scratch batch LSH pairs bit-for-bit against the same oracle
    QuerySpec("q_neardup_index", (s, d) => {
      val idx = graft.core.TempDirs.scratch("neardup_index")
      val docs = documents(s, d)
      DedupIndex.buildIndex(docs.where(col("doc_id") % 3 === 0), idx)
      DedupIndex.appendToIndex(docs.where(col("doc_id") % 3 === 1), idx)
      DedupIndex.appendToIndex(docs.where(col("doc_id") % 3 === 2), idx)
      DedupIndex.compactIndex(s, idx): Unit
      DedupIndex.pairsFromIndex(s, idx)
    },
      // the lifecycle must land exactly where the batch plan lands
      OracleSqlGen.nearDupLshSql()),
    // ExactSubstr-style span dedup: maximal cross-doc duplicated 8-gram
    // runs, reported as per-doc token spans (the removal policy composes
    // downstream)
    QuerySpec("q_dup_ngram_spans", (s, d) =>
      Dedup.duplicateNgramSpans(documents(s, d)),
      OracleSqlGen.dupNgramSpansSql()),
    // the headline span-dedup metric: duplicated-token fraction per
    // source (what fraction of each slice's tokens sit inside a
    // cross-doc duplicated run) — the number a corpus report leads with
    QuerySpec("q_dup_token_frac", (s, d) => {
      val docs = documents(s, d)
      val spans = Dedup.duplicateNgramSpans(docs)
        .groupBy(col("doc_id"))
        .agg(sum(col("span_tokens")).as("_dup"))
      docs
        .withColumn("_n", size(TextAnalysis.tokens(lower(col("text"))))
          .cast("long"))
        .join(spans, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("_n")).cast("long").as("n_tokens"),
          coalesce(sum(col("_dup")), lit(0L)).cast("long").as("n_dup_tokens"))
        .withColumn("dup_frac",
          col("n_dup_tokens").cast("double") / col("n_tokens"))
    },
      s"""WITH sp0 AS (${OracleSqlGen.dupNgramSpansSql()}),
        |sp AS (SELECT doc_id, sum(span_tokens) AS dup FROM sp0 GROUP BY 1),
        |d AS (SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
        |      w -> w != '')) AS BIGINT) AS n
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(sum(sp.dup), 0) AS BIGINT) AS n_dup_tokens,
        |  CAST(coalesce(sum(sp.dup), 0) AS DOUBLE) / sum(n) AS dup_frac
        |FROM d LEFT JOIN sp USING (doc_id)
        |GROUP BY 1""".stripMargin),
    // paragraph-granular exact dedup (boilerplate removal). The fixture has
    // no newlines, so the query first re-paragraphs each doc into 3-token
    // groups (deterministic narrow map, mirrored in the oracle) — at that
    // width the corpus has ~1.7k genuine repeats for the operator to drop
    QuerySpec("q_para_dedup", (s, d) => {
      val docsT = documents(s, d)
        .withColumn("_toks", TextAnalysis.tokens(col("text")))
      val n = size(col("_toks"))
      val last = greatest(floor((n - 1).cast("double") / 3.0).cast("int"), lit(0))
      val paras = transform(sequence(lit(0), last),
        i => array_join(slice(col("_toks"), i * lit(3) + 1, lit(3)), " "))
      Dedup.dedupParagraphs(
        docsT.withColumn("text", array_join(paras, "\n")).drop("_toks"))
    },
      """WITH tok AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
        |  FROM documents),
        |prep AS (SELECT doc_id, list_transform(
        |    range(0, greatest((len(toks) - 1) // 3, 0) + 1),
        |    i -> array_to_string(list_slice(toks, i * 3 + 1, i * 3 + 3), ' '))
        |    AS paras
        |  FROM tok),
        |p0 AS (SELECT doc_id, unnest(paras) AS para,
        |    unnest(range(0, len(paras))) AS ord
        |  FROM prep),
        |p AS (SELECT doc_id, ord, para,
        |    ('0x' || substr(md5(para), 1, 15))::BIGINT AS phash
        |  FROM p0 WHERE trim(para) != ''),
        |w1 AS (SELECT phash, min(doc_id) AS wdoc FROM p GROUP BY 1),
        |w2 AS (SELECT p.phash, w1.wdoc, min(p.ord) AS word
        |  FROM p JOIN w1 ON p.phash = w1.phash AND p.doc_id = w1.wdoc
        |  GROUP BY 1, 2),
        |kept AS (SELECT p.doc_id, p.ord, p.para
        |  FROM p JOIN w2 ON p.phash = w2.phash AND p.doc_id = w2.wdoc
        |    AND p.ord = w2.word),
        |agg AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY ord)
        |    AS clean_text, count(*) AS n_kept
        |  FROM kept GROUP BY 1),
        |np AS (SELECT doc_id,
        |    CAST(len(list_filter(paras, x -> trim(x) != '')) AS BIGINT)
        |      AS n_paras
        |  FROM prep)
        |SELECT np.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
        |  np.n_paras, CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
        |  np.n_paras - CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_dropped
        |FROM np LEFT JOIN agg USING (doc_id)""".stripMargin),
    // line-frequency filter (C4 rule): a line in >= 3 distinct docs is
    // boilerplate and every occurrence drops; same token-triple line prep
    QuerySpec("q_line_filter", (s, d) => {
      val docsT = documents(s, d)
        .withColumn("_toks", TextAnalysis.tokens(col("text")))
      val n = size(col("_toks"))
      val last = greatest(floor((n - 1).cast("double") / 3.0).cast("int"), lit(0))
      val paras = transform(sequence(lit(0), last),
        i => array_join(slice(col("_toks"), i * lit(3) + 1, lit(3)), " "))
      Dedup.filterRepeatedLines(
        docsT.withColumn("text", array_join(paras, "\n")).drop("_toks"),
        maxDocs = 3, minChars = 5)
    },
      """WITH tok AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
        |  FROM documents),
        |prep AS (SELECT doc_id, list_transform(
        |    range(0, greatest((len(toks) - 1) // 3, 0) + 1),
        |    i -> array_to_string(list_slice(toks, i * 3 + 1, i * 3 + 3), ' '))
        |    AS parts
        |  FROM tok),
        |p AS (SELECT doc_id, unnest(parts) AS line,
        |    unnest(range(0, len(parts))) AS ord
        |  FROM prep),
        |h AS (SELECT doc_id, ord,
        |    ('0x' || substr(md5(line), 1, 15))::BIGINT AS lh
        |  FROM p WHERE length(line) >= 5),
        |banned AS (SELECT lh FROM h GROUP BY 1
        |  HAVING count(DISTINCT doc_id) >= 3),
        |bad AS (SELECT doc_id, ord FROM h JOIN banned USING (lh)),
        |kept AS (SELECT p.doc_id, p.ord, p.line FROM p
        |  LEFT JOIN bad ON p.doc_id = bad.doc_id AND p.ord = bad.ord
        |  WHERE bad.ord IS NULL),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY ord)
        |    AS clean_text, count(*) AS n_kept
        |  FROM kept GROUP BY 1),
        |nl AS (SELECT doc_id, CAST(len(parts) AS BIGINT) AS n_lines
        |  FROM prep)
        |SELECT nl.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
        |  nl.n_lines, CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept
        |FROM nl LEFT JOIN agg USING (doc_id)""".stripMargin),
    // doc-frequency cap ON (maxDocFrac=0.5 default) — the scale-safe variant
    QuerySpec("q_jaccard_blocked", (s, d) =>
      Dedup.blockedJaccard(documents(s, d), "source", minJaccard = 0.05),
      OracleSqlGen.blockedJaccardSql()),
    QuerySpec("q_simhash", (s, d) =>
      Dedup.withSimhash(documents(s, d)).select("doc_id", "simhash"),
      OracleSqlGen.simhashSql()),
    // simhash tier: bit-band blocked pairs, hamming-verified — the cheap
    // near-IDENTICAL text pass below MinHash LSH
    QuerySpec("q_neardup_simhash", (s, d) =>
      Dedup.simhashNearDupPairs(documents(s, d)),
      OracleSqlGen.simhashNearDupSql()),
    // --- LLM pipeline: text analysis ------------------------------------
    QuerySpec("q_text_stats", (s, d) =>
      TextAnalysis.textStats(documents(s, d))
        .select("doc_id", "n_chars_c", "n_tokens", "n_stopwords", "n_punct",
                "sum_token_len", "mean_token_len", "stopword_ratio"),
      """WITH t AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
        |  FROM documents)
        |SELECT doc_id, length(text) AS n_chars_c, len(toks) AS n_tokens,
        |  len(list_filter(toks, x -> lower(x) IN
        |    ('the','a','an','and','or','of','to','in','is','it'))) AS n_stopwords,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_token_len,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
        |    AS mean_token_len,
        |  CAST(len(list_filter(toks, x -> lower(x) IN
        |    ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE) / len(toks)
        |    AS stopword_ratio
        |FROM t""".stripMargin),
    QuerySpec("q_lang_id", (s, d) =>
      TextAnalysis.languageId(documents(s, d))
        .select("doc_id", "score_en", "score_de", "score_es", "score_fr",
                "n_cjk", "pred_lang"),
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS toks,
        |    CAST(length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT)
        |      AS n_cjk
        |  FROM documents),
        |s AS (SELECT doc_id, n_cjk,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','is','a'))) AS score_en,
        |    len(list_filter(toks, x -> x IN ('der','die','und','das','ist','ein'))) AS score_de,
        |    len(list_filter(toks, x -> x IN ('el','la','los','las','es','y'))) AS score_es,
        |    len(list_filter(toks, x -> x IN ('le','les','des','est','et','du'))) AS score_fr
        |  FROM t)
        |SELECT doc_id, score_en, score_de, score_es, score_fr, n_cjk,
        |  CASE WHEN n_cjk > 0 THEN 'zh'
        |    WHEN score_en = greatest(score_en, score_de, score_es, score_fr)
        |      AND greatest(score_en, score_de, score_es, score_fr) > 0 THEN 'en'
        |    WHEN score_de = greatest(score_en, score_de, score_es, score_fr)
        |      AND greatest(score_en, score_de, score_es, score_fr) > 0 THEN 'de'
        |    WHEN score_es = greatest(score_en, score_de, score_es, score_fr)
        |      AND greatest(score_en, score_de, score_es, score_fr) > 0 THEN 'es'
        |    WHEN score_fr = greatest(score_en, score_de, score_es, score_fr)
        |      AND greatest(score_en, score_de, score_es, score_fr) > 0 THEN 'fr'
        |    ELSE 'unknown' END AS pred_lang
        |FROM s""".stripMargin),
    // the Gopher / MassiveText rule set — five famous keep/drop heuristics
    // as one integer-exact projection
    QuerySpec("q_gopher_rules", (s, d) =>
      TextAnalysis.gopherRules(documents(s, d)),
      OracleSqlGen.gopherRulesSql()),
    // the LLM-side end-to-end composition (the q_segy_file_ingest analog):
    // quality gate (Gopher rules, fixture-relaxed token floor) → exact
    // dedup survivors (min id per content hash) → near-dup LSH greedy drop
    // (higher id of every pair) → per-source corpus stats. Every stage is
    // the registered operator, chained the way a production prep job
    // chains them; one oracle hash pins the whole pipeline
    QuerySpec("q_llm_prep_e2e", (s, d) => {
      val docs = documents(s, d)
      // fixture-relaxed thresholds (token floor 10, one required stopword
      // — the synthetic corpus is short and stopword-sparse); thresholds
      // are explicit on BOTH engines, the pipeline shape is the point.
      // One pass decides gopher-keep AND the exact-dedup winner: the
      // per-md5(text)-group min doc_id rides a min(struct(doc_id,
      // n_tokens)) aggregate (doc_id is unique, so struct order = doc_id
      // order — value-identical to the old groupBy-min + re-join), and
      // the tiny (doc_id, n_tokens) winner table is staged to scratch so
      // the giant tokenize expression exists in exactly ONE plan. The
      // old shape re-joined gopherRules onto docs and re-joined the
      // md5-group back onto that, embedding the tokenize tree in every
      // consumer arm — AQE re-optimizes the logical plan per stage
      // (~25 stages here), and walking those trees measured as
      // multi-second driver planning stalls (thread dumps: main in
      // SimplifyBinaryComparison while all executors idle).
      val winners = graft.core.Scratch.stage(
        TextAnalysis.gopherRules(docs, minTokens = 10, minReqStopwords = 1,
            keepText = true)
          .where(col("keep"))
          .groupBy(md5(col("text")).as("_h"))
          .agg(min(struct(col("doc_id"), col("n_tokens"))).as("w"))
          .select(col("w.doc_id").as("doc_id"),
            col("w.n_tokens").as("n_tokens")),
        "llm_prep_kept")
      val exactKept = docs.join(winners, "doc_id")
      val dropped = Dedup.nearDupPairs(exactKept)
        .select(col("id_b").cast("long").as("doc_id")).distinct()
      exactKept.join(dropped, Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"))
    },
      {
        val lsh = OracleSqlGen.nearDupLshSql(docsFrom = "ke")
        s"""WITH t0 AS (SELECT doc_id, text, source,
          |    list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS toks
          |  FROM documents),
          |g AS (SELECT doc_id,
          |    CAST(len(toks) AS BIGINT) AS n_tokens,
          |    CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0)
          |      AS BIGINT) AS sum_tok_len,
          |    CAST(length(text) - length(replace(text, '#', ''))
          |      + (length(text) - length(replace(text, '...', ''))) // 3
          |      AS BIGINT) AS n_symbol,
          |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
          |      AS BIGINT) AS n_alpha,
          |    CAST(len(list_filter(
          |      ['the','be','to','of','and','that','have','with'],
          |      s -> list_contains(list_transform(toks, w -> lower(w)), s)))
          |      AS BIGINT) AS n_req_stop
          |  FROM t0),
          |keepg AS (SELECT doc_id, n_tokens FROM g
          |  WHERE n_tokens BETWEEN 10 AND 100000
          |    AND CAST(sum_tok_len AS DOUBLE) / n_tokens BETWEEN 3.0 AND 10.0
          |    AND CAST(n_symbol AS DOUBLE) / n_tokens <= 0.1
          |    AND CAST(n_alpha AS DOUBLE) / n_tokens >= 0.8
          |    AND n_req_stop >= 1),
          |kq AS (SELECT t0.doc_id, t0.text, t0.source, keepg.n_tokens
          |  FROM t0 JOIN keepg USING (doc_id)),
          |ex AS (SELECT min(doc_id) AS doc_id FROM kq GROUP BY md5(text)),
          |ke AS (SELECT kq.* FROM kq JOIN ex USING (doc_id)),
          |pairs AS ($lsh),
          |dropped AS (SELECT DISTINCT id_b AS doc_id FROM pairs)
          |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
          |FROM ke
          |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
          |GROUP BY 1""".stripMargin
      }),
    QuerySpec("q_quality", (s, d) =>
      TextAnalysis.qualityScore(documents(s, d)).select("doc_id", "quality", "keep"),
      qualitySqlStr),
    QuerySpec("q_fingerprint", (s, d) =>
      documents(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp")),
      fingerprintSqlStr),
    QuerySpec("q_token_count", (s, d) =>
      TextAnalysis.tokenCounts(documents(s, d))
        .select("doc_id", "n_ws_tokens", "n_bpeish"),
      tokenCountSqlStr),
    // corpus token-frequency table (tokenizer-training prep): top 50 by
    // collection frequency; (cf DESC, token) totally orders rows
    QuerySpec("q_vocab", (s, d) =>
      TextAnalysis.vocabulary(documents(s, d))
        .orderBy(col("cf").desc, col("token")).limit(50),
      """WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
        |      AS token
        |  FROM documents),
        |g AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
        |v AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cf,
        |    CAST(count(*) AS BIGINT) AS df
        |  FROM g GROUP BY 1)
        |SELECT token, cf, df FROM v ORDER BY cf DESC, token LIMIT 50""".stripMargin),
    // per-doc distinctive keywords by the tf/df rational score
    QuerySpec("q_keywords", (s, d) => TextAnalysis.keywords(documents(s, d)),
      """WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
        |      AS token
        |  FROM documents),
        |g AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM t GROUP BY 1, 2),
        |v AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1),
        |k AS (SELECT g.doc_id, g.token, g.tf, v.df,
        |    CAST(g.tf AS DOUBLE) / v.df AS score
        |  FROM g JOIN v USING (token)),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, token) AS BIGINT) AS rk FROM k)
        |SELECT doc_id, token, tf, df, score, rk FROM r WHERE rk <= 3""".stripMargin),
    // exact per-source token-length quantiles: the data-driven cut points
    // for length filters (one source-keyed window, engine-exact)
    QuerySpec("q_length_quantiles", (s, d) =>
      TextAnalysis.lengthQuantiles(documents(s, d)),
      """WITH c AS (SELECT source, doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x != '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT source, n_tokens,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_tokens, doc_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_docs
        |  FROM c)
        |SELECT source, max(n_docs) AS n_docs,
        |  max(CASE WHEN rn = CAST(ceil(0.1 * n_docs) AS BIGINT)
        |    THEN n_tokens END) AS p10,
        |  max(CASE WHEN rn = CAST(ceil(0.5 * n_docs) AS BIGINT)
        |    THEN n_tokens END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.9 * n_docs) AS BIGINT)
        |    THEN n_tokens END) AS p90
        |FROM r GROUP BY 1""".stripMargin),
    // BM25 lexical retrieval (rational idf): query-term explode prunes the
    // corpus scan; dfs, query terms and corpus stats all ride broadcasts
    QuerySpec("q_bm25", (s, d) =>
      Retrieval.bm25TopK(documents(s, d), bm25Queries, k = 10),
      OracleSqlGen.bm25Sql(bm25Queries, k = 10)),
    // incremental index lifecycle under the oracle: build on a third of
    // the corpus, append the other two thirds (each append commits its
    // postings + one stats marker atomically), COMPACT (term-redistribute,
    // markers fold to one), then query — the ranking must equal the batch
    // full-corpus oracle, proving append+compact lose nothing
    QuerySpec("q_bm25_compact", (s, d) => {
      val idx = graft.core.TempDirs.scratch("bm25_compact_idx")
      val docs = documents(s, d)
      Retrieval.buildIndex(docs.where(col("doc_id") % 3 === 0), idx)
      Retrieval.appendToIndex(docs.where(col("doc_id") % 3 === 1), idx)
      Retrieval.appendToIndex(docs.where(col("doc_id") % 3 === 2), idx)
      Retrieval.compactIndex(s, idx): Unit
      Retrieval.bm25TopKFromIndex(s, idx, bm25Queries, k = 10)
    },
      // append+compact must be ranking-invariant: same oracle as q_bm25
      OracleSqlGen.bm25Sql(bm25Queries, k = 10)),
    // hybrid retrieval: RRF-fuse the lexical arm with the dense exact arm
    // (rank-space merge — no cross-arm score normalization needed)
    QuerySpec("q_hybrid_rrf", (s, d) => {
      val lex = Retrieval.bm25TopK(documents(s, d), bm25Queries, k = 10)
      val dense = Similarity.bruteForceTopK(embeddings(s, d),
          bm25Queries.map(_._1), k = 10)
        .withColumnRenamed("neighbor_id", "doc_id")
      Retrieval.rrfFuse(Seq("dense" -> dense, "lex" -> lex), k = 10)
    },
      s"""WITH lex AS (${OracleSqlGen.bm25Sql(bm25Queries, k = 10)}),
         |dense AS (
         |  WITH q AS (SELECT vec_id AS query_id,
         |      CAST(embedding AS DOUBLE[]) AS qvec
         |    FROM embeddings WHERE vec_id < ${bm25Queries.size}),
         |  c AS (SELECT vec_id AS neighbor_id,
         |      CAST(embedding AS DOUBLE[]) AS cvec
         |    FROM embeddings),
         |  s AS (SELECT query_id, neighbor_id,
         |      list_cosine_similarity(qvec, cvec) AS sim
         |    FROM q, c WHERE neighbor_id != query_id)
         |  SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM s QUALIFY rank <= 10),
         |u AS (SELECT query_id, doc_id, rank, 'lex' AS src FROM lex
         |  UNION ALL
         |  SELECT query_id, neighbor_id AS doc_id, rank, 'dense' AS src
         |  FROM dense),
         |g AS (SELECT query_id, doc_id,
         |    list_reduce(list(CAST(1.0 AS DOUBLE) / CAST(60 + rank AS DOUBLE)
         |      ORDER BY src, rank), (x, y) -> x + y) AS score
         |  FROM u GROUP BY 1, 2)
         |SELECT query_id, doc_id, score, rank FROM (
         |  SELECT query_id, doc_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |  FROM g)
         |WHERE rank <= 10""".stripMargin),
    // BPE trainer counting step: occurrence-weighted adjacent-char pairs
    // over the vocabulary; top 50 — (pair_count, lhs, rhs) totally orders
    QuerySpec("q_bpe_pairs", (s, d) =>
      TextAnalysis.bpePairCounts(documents(s, d))
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs")).limit(50),
      """WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
        |      AS token
        |  FROM documents),
        |g AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
        |v AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM g GROUP BY 1),
        |p AS (SELECT substr(token, CAST(i AS INT), 1) AS lhs,
        |    substr(token, CAST(i AS INT) + 1, 1) AS rhs, cf
        |  FROM (SELECT token, cf, unnest(range(1, length(token))) AS i FROM v)),
        |a AS (SELECT lhs, rhs, CAST(sum(cf) AS BIGINT) AS pair_count
        |  FROM p GROUP BY 1, 2)
        |SELECT lhs, rhs, pair_count FROM a
        |ORDER BY pair_count DESC, lhs, rhs LIMIT 50""".stripMargin),
    // BPE trainer round 1 end to end: top pair selected and MERGED into
    // every vocabulary token — the rewrite step the iterated trainer loops,
    // oracle-gated in its one SQL-expressible round
    QuerySpec("q_bpe_train1", (s, d) =>
      TextAnalysis.bpeTrainOneRound(documents(s, d)),
      // round-1 merge: symbols are single chars, so the left-to-right
      // non-overlapping merge IS a string replace; chr(1) marks merge sites
      // so the exploded symbol list re-expands them to the merged pair
      """WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
        |      AS token
        |  FROM documents),
        |g AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
        |v AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM g GROUP BY 1),
        |p AS (SELECT substr(token, CAST(i AS INT), 1) AS lhs,
        |    substr(token, CAST(i AS INT) + 1, 1) AS rhs, cf
        |  FROM (SELECT token, cf, unnest(range(1, length(token))) AS i FROM v)),
        |a AS (SELECT lhs, rhs, CAST(sum(cf) AS BIGINT) AS pair_count
        |  FROM p GROUP BY 1, 2),
        |top AS (SELECT lhs, rhs FROM a
        |  ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
        |m AS (SELECT v.token, v.cf, top.lhs, top.rhs,
        |    replace(v.token, top.lhs || top.rhs, chr(1)) AS r
        |  FROM v, top)
        |SELECT token, cf, CAST(i - 1 AS BIGINT) AS pos,
        |  CASE WHEN substr(r, CAST(i AS INT), 1) = chr(1) THEN lhs || rhs
        |    ELSE substr(r, CAST(i AS INT), 1) END AS symbol
        |FROM (SELECT token, cf, r, lhs, rhs,
        |    unnest(range(1, length(r) + 1)) AS i
        |  FROM m)""".stripMargin),
    // ... and the FULL iterated loop for 3 rounds: the oracle chains
    // delimiter-string replaces (symbol boundaries pinned by chr(1)), so
    // the data-dependent merge table itself is hash-checked — driver loop,
    // recounts, tie-breaks and all
    QuerySpec("q_bpe_train_loop", (s, d) =>
      TextAnalysis.trainBpeMerges(documents(s, d), nMerges = 3),
      OracleSqlGen.bpeTrainLoopSql(nMerges = 3)),
    // the ENCODE half: the trained 3-merge table applied to the whole
    // vocabulary through the delimiter-replace chain (train -> encode,
    // end to end under one oracle)
    QuerySpec("q_bpe_encode", (s, d) => {
      val docs = documents(s, d)
      val merges = TextAnalysis.trainBpeMerges(docs, nMerges = 3)
        .orderBy("merge_rank").collect()
        .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
      // the PRODUCTION encoder (one kernel node carrying the table) under
      // the chained-replace oracle: green only if the kernel's fold equals
      // the SQL replay symbol-for-symbol
      TextAnalysis.bpeEncode(
          TextAnalysis.vocabulary(docs).select("token", "cf"), merges)
        .select(col("token"), col("cf"),
          posexplode(col("pieces")).as(Seq("pos", "piece")))
        .select(col("token"), col("cf"), col("pos").cast("long").as("pos"),
          col("piece"))
    },
      OracleSqlGen.bpeEncodeSql(nMerges = 3)),
    // PII scrub: the fixture is PII-free, so the query plants one email,
    // one IP and one digit run per doc (deterministic from doc_id, mirrored
    // in the oracle) and redacts them back out
    QuerySpec("q_pii_redact", (s, d) =>
      Pii.redactPii(documents(s, d).withColumn("text",
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com from 10.0."),
            (col("doc_id") % 256).cast("string"), lit(".7 ref 99887766"))))
        .select("doc_id", "redacted", "n_emails", "n_ips", "n_nums"),
      """WITH s AS (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com from 10.0.'
        |      || (doc_id % 256) || '.7 ref 99887766' AS t0
        |  FROM documents),
        |e AS (SELECT doc_id, t0,
        |    CAST(len(regexp_extract_all(t0,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |      AS n_emails,
        |    regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS t1
        |  FROM s),
        |i AS (SELECT doc_id, n_emails,
        |    CAST(len(regexp_extract_all(t1,
        |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        |    regexp_replace(t1, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g')
        |      AS t2
        |  FROM e),
        |n AS (SELECT doc_id, n_emails, n_ips,
        |    CAST(len(regexp_extract_all(t2, '\b[0-9]{7,15}\b')) AS BIGINT)
        |      AS n_nums,
        |    regexp_replace(t2, '\b[0-9]{7,15}\b', '<NUM>', 'g') AS t3
        |  FROM i)
        |SELECT doc_id, t3 AS redacted, n_emails, n_ips, n_nums FROM n""".stripMargin),
    // Gopher-style repetition quality signals (templated-text detector)
    QuerySpec("q_repetition", (s, d) =>
      TextAnalysis.repetitionSignals(documents(s, d)),
      """WITH tok AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t != '') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(toks) > 0
        |      THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |      ELSE 0.0 END AS dup_word_frac,
        |    toks FROM tok),
        |grams AS (
        |  SELECT doc_id, 2 AS n, unnest(CASE WHEN len(toks) >= 2
        |      THEN list_transform(range(1, len(toks)),
        |        i -> array_to_string(list_slice(toks, i, i + 1), ' '))
        |      ELSE [] END) AS g
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id, 3 AS n, unnest(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |        i -> array_to_string(list_slice(toks, i, i + 2), ' '))
        |      ELSE [] END) AS g
        |  FROM base),
        |cnt AS (SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
        |agg AS (SELECT doc_id,
        |    CAST(max(CASE WHEN n = 2 THEN c END) AS DOUBLE)
        |      / sum(CASE WHEN n = 2 THEN c ELSE 0 END) AS top_2gram_frac,
        |    CAST(max(CASE WHEN n = 3 THEN c END) AS DOUBLE)
        |      / sum(CASE WHEN n = 3 THEN c ELSE 0 END) AS top_3gram_frac
        |  FROM cnt GROUP BY 1)
        |SELECT b.doc_id, b.n_tokens, b.dup_word_frac, a.top_2gram_frac, a.top_3gram_frac
        |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin),
    // blocklist term gate: whole-token occurrence counts vs a literal list
    QuerySpec("q_blocklist", (s, d) =>
      TextAnalysis.blocklistFilter(documents(s, d),
          Seq("slow", "stale", "legacy"), maxHits = 2)
        .select("doc_id", "n_blocked", "blocked"),
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x != '')
        |      AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(toks, t -> t IN ('slow', 'stale', 'legacy')))
        |    AS BIGINT) AS n_blocked,
        |  len(list_filter(toks, t -> t IN ('slow', 'stale', 'legacy'))) > 2
        |    AS blocked
        |FROM t""".stripMargin),
    // LSH-tier recall QC: banded candidates vs exact Jaccard truth at the
    // same threshold; the quadratic exact arm runs on a deterministic
    // md5-bucket half-sample so the registered plan is bounded at scale,
    // while the LSH arm stays the full-corpus production candidate join
    QuerySpec("q_neardup_recall", (s, d) =>
      Dedup.nearDupRecall(documents(s, d), sampleFraction = 0.5),
      OracleSqlGen.nearDupRecallSql(sampleFraction = 0.5)),
    // winnowing (MOSS) partial-overlap pairs: window-min char-gram
    // fingerprints, df-capped inverted self-join; minShared = 32 is the
    // real-overlap band on this fixture (word-salad text shares many
    // incidental 8-grams — 2-31 shared fps is background noise)
    QuerySpec("q_winnow_pairs", (s, d) =>
      Dedup.winnowOverlapPairs(documents(s, d), minShared = 32),
      OracleSqlGen.winnowPairsSql(minShared = 32)),
    // character-level near-dup tier: EXACT edit-distance similarity join —
    // PassJoin segment blocking (complete by pigeonhole, hashes-only
    // candidate shuffle) + banded-DP levenshtein verify on candidates only
    QuerySpec("q_editdist_pairs", (s, d) =>
      EditDistance.similarityJoin(documents(s, d), k = 4),
      OracleSqlGen.editDistPairsSql(k = 4)),
    // greedy min-id survivors over the edit-distance pair graph
    QuerySpec("q_editdist_dedup", (s, d) =>
      EditDistance.dedupByEditDistance(documents(s, d), k = 4),
      OracleSqlGen.editDistDedupSql(k = 4)),
    // fuzzy record linkage: cross-table edit-distance join (even-id docs
    // linked to odd-id docs; both PassJoin probe directions)
    QuerySpec("q_editdist_link", (s, d) => {
      val docs = documents(s, d)
      EditDistance.similarityJoinBetween(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), k = 4)
    },
      OracleSqlGen.editDistLinkSql(k = 4)),
    // char-trigram LM familiarity: rationally-exact perplexity surrogate
    // (mean corpus gram frequency + OOV rate) — the CCNet-style LM quality
    // gate with log-probs replaced by integer-exact ratios
    QuerySpec("q_gram_lm", (s, d) =>
      TextAnalysis.gramFamiliarity(documents(s, d)),
      """WITH nm AS (SELECT doc_id,
        |    regexp_replace(lower(text), '\s+', ' ', 'g') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(length(t) - 2, 0) + 1),
        |    i -> substr(t, i, 3))) AS gram FROM nm),
        |tf AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS tf
        |  FROM g GROUP BY 1, 2),
        |mdl AS (SELECT gram, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
        |a AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_grams,
        |    CAST(sum(tf * cf) AS BIGINT) AS sum_cf,
        |    CAST(sum(CASE WHEN cf < 5 THEN tf ELSE 0 END) AS BIGINT) AS n_rare
        |  FROM tf JOIN mdl USING (gram) GROUP BY 1)
        |SELECT d.doc_id, coalesce(a.n_grams, 0) AS n_grams,
        |  CASE WHEN a.n_grams > 0
        |    THEN CAST(a.sum_cf AS DOUBLE) / a.n_grams END AS mean_gram_cf,
        |  CASE WHEN a.n_grams > 0
        |    THEN CAST(a.n_rare AS DOUBLE) / a.n_grams END AS rare_frac
        |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin),
    // domain-level filtering: per-source quality keep-rate + blocklist flag
    QuerySpec("q_source_prior", (s, d) =>
      TextAnalysis.sourcePriors(documents(s, d)),
      s"""WITH q AS ($qualitySqlStr),
         |s AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN q.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
         |  FROM documents d JOIN q USING (doc_id) GROUP BY 1)
         |SELECT source, n_docs, n_keep,
         |  CAST(n_keep AS DOUBLE) / n_docs AS keep_frac,
         |  CAST(n_keep AS DOUBLE) / n_docs < 0.5 AS blocked
         |FROM s""".stripMargin),
    // concat-and-chunk sequence packing: each doc's context-window span in
    // the deterministic training stream (two-pass global prefix sum)
    QuerySpec("q_pack_sequences", (s, d) =>
      Packing.packSequences(documents(s, d), ctxTokens = 512),
      """WITH tok AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM tok)
        |SELECT doc_id, n_tokens, start_offset,
        |  start_offset // 512 AS window_first,
        |  CASE WHEN n_tokens > 0 THEN (start_offset + n_tokens - 1) // 512
        |    ELSE start_offset // 512 END AS window_last,
        |  CASE WHEN n_tokens > 0 THEN (start_offset + n_tokens - 1) // 512
        |    ELSE start_offset // 512 END - start_offset // 512 + 1 AS n_windows
        |FROM c""".stripMargin),
    // deterministic training-stream shuffle: keyed-hash permutation, global
    // sequence, round-robin shard deal — retry-safe, engine-reproducible
    QuerySpec("q_shuffle_shards", (s, d) =>
      Packing.shuffleShards(documents(s, d), nShards = 8),
      s"""SELECT doc_id,
         |  ${OracleSqlGen.h60("'shuf:' || doc_id")} AS shuffle_key,
         |  CAST(row_number() OVER (ORDER BY
         |    ${OracleSqlGen.h60("'shuf:' || doc_id")}, doc_id) - 1 AS BIGINT)
         |    AS seq,
         |  CAST((row_number() OVER (ORDER BY
         |    ${OracleSqlGen.h60("'shuf:' || doc_id")}, doc_id) - 1) % 8 AS BIGINT)
         |    AS shard
         |FROM documents""".stripMargin),
    // inference-side bucketed batching: similar-length docs batch together
    // so per-batch padding (pad_to = batch max) stays tight
    QuerySpec("q_length_batches", (s, d) =>
      Packing.lengthBucketBatches(documents(s, d), bucketTokens = 32,
        batchSize = 16),
      """WITH c AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x != '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (SELECT doc_id, n_tokens, (n_tokens + 31) // 32 AS bucket,
        |    CAST((row_number() OVER (PARTITION BY (n_tokens + 31) // 32
        |      ORDER BY n_tokens, doc_id) - 1) // 16 AS BIGINT) AS batch_idx
        |  FROM c)
        |SELECT doc_id, n_tokens, bucket, batch_idx,
        |  max(n_tokens) OVER (PARTITION BY bucket, batch_idx) AS pad_to
        |FROM b""".stripMargin),
    // long-doc → overlapping training samples (the dual of packing): 64-token
    // windows every 48 tokens; a pure narrow map + explode, zero shuffle
    QuerySpec("q_chunk_docs", (s, d) =>
      Chunking.chunkDocs(documents(s, d), chunkTokens = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx").cast("long"),
          col("chunk_start").cast("long"),
          col("n_chunk_tokens").cast("long"), col("chunk_text")),
      """WITH tok AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
        |    CASE WHEN len(toks) <= 64 THEN 0
        |      ELSE (len(toks) - 64 + 48 - 1) // 48 END AS last_idx
        |  FROM tok),
        |u AS (SELECT doc_id, toks, n,
        |    unnest(range(0, last_idx + 1)) AS chunk_idx
        |  FROM c)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(chunk_idx * 48 AS BIGINT) AS chunk_start,
        |  CAST(least(64, n - chunk_idx * 48) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ')
        |    AS chunk_text
        |FROM u""".stripMargin),
    // deterministic per-source cap (anti-dominance gate): at most 10 docs
    // per source, kept set stable across reruns/engines (md5-ranked)
    QuerySpec("q_cap_group", (s, d) =>
      Sampling.capPerGroup(
        documents(s, d).select("doc_id", "source"), "source", cap = 10),
      s"""SELECT doc_id, source FROM documents
         |QUALIFY row_number() OVER (PARTITION BY source
         |  ORDER BY ${OracleSqlGen.h60("'cap:' || doc_id")}, doc_id)
         |  <= 10""".stripMargin),
    QuerySpec("q_boilerplate", (s, d) =>
      Dedup.boilerplateShingles(documents(s, d)),
      OracleSqlGen.boilerplateSql()),
    // decontamination: test split (src1) vs the rest of the corpus
    QuerySpec("q_contamination", (s, d) => {
      val docs = documents(s, d)
      Dedup.contamination(docs.where(col("source") =!= "src1"),
        docs.where(col("source") === "src1"))
    },
      OracleSqlGen.contaminationSql()),
    // bloom-prefiltered decontamination: identical answer (the exact join
    // removes bloom false positives), shuffle carries only might-match grams
    QuerySpec("q_contamination_bloom", (s, d) => {
      val docs = documents(s, d)
      Dedup.contaminationBloom(docs.where(col("source") =!= "src1"),
        docs.where(col("source") === "src1"))
    },
      // bloom prefilter is answer-invariant → same oracle as q_contamination
      OracleSqlGen.contaminationSql()),
    // near-dup clusters: LSH pairs → connected components → survivors
    QuerySpec("q_dedup_components", (s, d) =>
      Dedup.dupComponents(Dedup.nearDupPairs(documents(s, d)))
        .select(col("id").as("doc_id"), col("component"), col("is_survivor")),
      OracleSqlGen.dedupComponentsSql()),
    // quality-ranked cluster survivors: keep each near-dup component's
    // best-quality member (ties → lowest id), not the min id
    QuerySpec("q_dedup_components_best", (s, d) => {
      val docs = documents(s, d)
      Dedup.componentSurvivorsBest(
        Dedup.dupComponents(Dedup.nearDupPairs(docs)),
        TextAnalysis.qualityScore(docs).select(col("doc_id"), col("quality")))
    },
      s"""WITH c AS (${OracleSqlGen.dedupComponentsSql()}),
         |q AS ($qualitySqlStr),
         |j AS (SELECT c.component, c.doc_id, q.quality
         |  FROM c JOIN q USING (doc_id))
         |SELECT component, doc_id AS best_id FROM (
         |  SELECT component, doc_id,
         |    row_number() OVER (PARTITION BY component
         |      ORDER BY quality DESC, doc_id) AS rn
         |  FROM j) WHERE rn = 1""".stripMargin),
    QuerySpec("q_sample_stratified", (s, d) =>
      Sampling.stratifiedSample(documents(s, d), "source",
        rates = Map("src1" -> 0.8, "src2" -> 0.5, "src3" -> 0.05),
        defaultRate = 0.25)
        .select("doc_id", "source"),
      """SELECT doc_id, source FROM documents
        |WHERE ('0x' || substr(md5('sample:' || doc_id), 1, 15))::BIGINT % 10000
        |  < CASE source WHEN 'src1' THEN 8000 WHEN 'src2' THEN 5000
        |    WHEN 'src3' THEN 500 ELSE 2500 END""".stripMargin),
    // mixture sampling to a token budget: per-source keep rates derived
    // from target shares vs actual source token mass (src1 oversubscribes
    // and clamps to keep-all; absent sources drop entirely)
    QuerySpec("q_mixture_sample", (s, d) =>
      Sampling.mixtureSample(documents(s, d),
        shares = Map("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.125),
        tokenBudget = 4000L),
      """WITH c AS (SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x != '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |t AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        |  FROM c GROUP BY 1),
        |r AS (SELECT source, least(CAST(1.0 AS DOUBLE),
        |    CAST(CASE source WHEN 'src1' THEN 2000.0 WHEN 'src2' THEN 1000.0
        |      WHEN 'src3' THEN 500.0 ELSE 0.0 END AS DOUBLE)
        |    / CAST(src_tokens AS DOUBLE)) AS rate
        |  FROM t)
        |SELECT c.doc_id, c.source, c.n_tokens FROM c JOIN r USING (source)
        |WHERE ('0x' || substr(md5('mix:' || doc_id), 1, 15))::BIGINT % 10000
        |  < CAST(floor(rate * 10000.0) AS BIGINT)""".stripMargin),
    // corpus snapshot diff: the incremental-processing primitive — v2 is a
    // deterministic mutation of v1 (drops %7, rewrites %5, adds %11 under
    // shifted ids); downstream stages consume added ∪ changed, never 100 TB
    QuerySpec("q_corpus_diff", (s, d) => {
      val docs = documents(s, d).select("doc_id", "text")
      val v2 = docs.where(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.where(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 100000L))
      CorpusPrep.corpusDiff(docs, v2)
    },
      """WITH o AS (SELECT doc_id,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 != 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id % 11 = 0),
        |n AS (SELECT doc_id,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM v2)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.fp IS NULL THEN 'added'
        |    WHEN n.fp IS NULL THEN 'removed'
        |    WHEN o.fp = n.fp THEN 'unchanged'
        |    ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin),
    // --- corpus prep: every sketch column in one pass, materialized ------
    QuerySpec("q_corpus_prep", (s, d) => {
      val path = graft.core.TempDirs.scratch("corpus")
      CorpusPrep.prepare(documents(s, d), path)
        .select("doc_id", "fp", "simhash", "sig_h", "quality", "keep",
                "n_ws_tokens", "n_bpeish")
    },
      s"""SELECT q.doc_id, f.fp, sh.simhash, sg.sig_h, q.quality, q.keep,
         |  tc.n_ws_tokens, tc.n_bpeish
         |FROM ($qualitySqlStr) q
         |JOIN ($fingerprintSqlStr) f USING (doc_id)
         |JOIN (${OracleSqlGen.simhashSql()}) sh USING (doc_id)
         |JOIN (${OracleSqlGen.minhashDigestSql()}) sg USING (doc_id)
         |JOIN ($tokenCountSqlStr) tc USING (doc_id)""".stripMargin),
    // --- LLM pipeline: multimodal plumbing ------------------------------
    QuerySpec("q_multimodal_meta", (s, d) =>
      Multimodal.attachPayload(documents(s, d))
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
                col("meta.digest").as("digest")),
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, sha256(text) AS digest
        |FROM documents""".stripMargin),
    // exploded to (doc_id, idx, value) rows — array columns crash the
    // pandas hash compare, and exploded doubles are oracle-checkable
    QuerySpec("q_multimodal_features", (s, d) =>
      Multimodal.withFeatures(Multimodal.attachPayload(documents(s, d)))
        .select(col("doc_id"), posexplode(col("features")))
        .select(col("doc_id"), col("pos").cast("long").as("idx"),
                col("col").as("value")),
      OracleSqlGen.multimodalFeaturesSql()),
    // the REAL decode path under oracle: synthesize an actual binary PPM
    // per doc IN-PLAN (header + 4x2 RGB pixels from a closed-form formula
    // of doc_id), run the true byte parser through the batched decode
    // stage, and the oracle recomputes the channel means from the same
    // formula — the row only matches if the parser reads the bytes right
    // REAL audio decode: a PCM16 WAV file per doc synthesized in-plan
    // (header + LIST metadata chunk built driver-side as constant bytes;
    // sample words packed little-endian in SQL), parsed back by the RIFF
    // chunk walk — amplitude stats are integer-exact so the oracle
    // recomputes them from the sample FORMULA, proving the byte path
    QuerySpec("q_multimodal_wav", (s, d) => {
      val n = 8
      // sample i of doc: v = ((doc_id*7 + i*13) % 65536) - 32768, an int16;
      // its unsigned LE word is v & 0xFFFF = (u + 32768) % 65536 (the
      // sign-bit flip of u = (doc_id*7 + i*13) % 65536)
      val sampleHex = concat((0 until n).flatMap { i =>
        val w = ((col("doc_id") * 7 + lit(13 * i)) % 65536 + 32768) % 65536
        Seq(lpad(hex(w % 256), 2, "0"), lpad(hex(floor(w / 256)), 2, "0"))
      }: _*)
      // header with CORRECT sizes for n samples: synthesize a zero-filled
      // file of the right length and keep everything before the samples
      val header = Multimodal.wavFileJvm(Array.fill[Short](n)(0), 8000, 1,
        listPayload = "INFOgenerated-fixture ".getBytes("US-ASCII"))
        .dropRight(2 * n)
      val payload = concat(lit(header),
        call_function("to_binary", sampleHex, lit("hex")))
      Multimodal.decodeWavBatched(
        documents(s, d).select(col("doc_id"), payload.as("payload")))
    },
      // means recomputed from the pixel FORMULA (no byte parsing oracle-side);
      // integer sums / 8 are exact in IEEE, so the decode must be bit-right
      // amplitude stats recomputed from the sample FORMULA (no byte parsing
      // oracle-side); integer sums / n are exact in IEEE, so the RIFF chunk
      // walk and LE sample decode must be bit-right to match
      """WITH is_ AS (SELECT unnest(range(0, 8)) AS i),
        |sm AS (SELECT d.doc_id, ((d.doc_id * 7 + i * 13) % 65536) - 32768 AS v
        |  FROM documents d, is_)
        |SELECT doc_id, true AS ok, CAST(1 AS BIGINT) AS n_channels,
        |  CAST(8000 AS BIGINT) AS sample_rate, CAST(16 AS BIGINT) AS bits,
        |  CAST(8 AS BIGINT) AS n_frames,
        |  CAST(sum(v) AS DOUBLE) / count(*) AS mean_amp,
        |  CAST(sum(v * v) AS DOUBLE) / count(*) AS ms_amp,
        |  CAST(max(abs(v)) AS BIGINT) AS peak
        |FROM sm GROUP BY doc_id""".stripMargin),
    QuerySpec("q_multimodal_ppm", (s, d) => {
      val w = 4; val h = 2
      // pixel (x, y) channels: r = (doc_id + 10x) % 256, g = (doc_id +
      // 100y) % 256, b = doc_id % 256 — every byte a deterministic int
      val pixelHex = concat(
        (for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) yield {
          val v = c match {
            case 0 => (col("doc_id") + lit(10 * x)) % 256
            case 1 => (col("doc_id") + lit(100 * y)) % 256
            case 2 => col("doc_id") % 256
          }
          lpad(hex(v), 2, "0")
        }): _*)
      val payload = concat(
        lit(s"P6\n$w $h\n255\n".getBytes("US-ASCII")),
        call_function("to_binary", pixelHex, lit("hex")))
      Multimodal.decodePpmBatched(
          documents(s, d).select(col("doc_id"), payload.as("payload")))
        .select(col("doc_id"), col("ok"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
    },
      """WITH xs AS (SELECT unnest(range(0, 4)) AS x),
        |ys AS (SELECT unnest(range(0, 2)) AS y),
        |px AS (SELECT d.doc_id, xs.x, ys.y FROM documents d, xs, ys)
        |SELECT doc_id, true AS ok,
        |  CAST(4 AS BIGINT) AS width, CAST(2 AS BIGINT) AS height,
        |  avg(CAST((doc_id + 10 * x) % 256 AS DOUBLE)) AS mean_r,
        |  avg(CAST((doc_id + 100 * y) % 256 AS DOUBLE)) AS mean_g,
        |  avg(CAST(doc_id % 256 AS DOUBLE)) AS mean_b
        |FROM px GROUP BY doc_id""".stripMargin),
    // the same real-decode gate through a BMP container: uncompressed
    // device-independent bitmap, ImageIO-written and read back through the
    // identical container-agnostic decode stage as PNG
    QuerySpec("q_multimodal_bmp", (s, d) => {
      import s.implicits._
      val w = 4; val h = 2
      val payloads = documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.imageFileJvm(w, h, "bmp", (x, y) => (
            ((id + 10 * x) % 256).toInt,
            ((id + 100 * y) % 256).toInt,
            (id % 256).toInt)))
        }).toDF("doc_id", "payload")
      Multimodal.decodeImageBatched(payloads)
        .select(col("doc_id"), col("ok"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
    },
      // PNG is lossless: the ImageIO encode->decode roundtrip must reproduce
      // the pixel formula's bytes exactly, so the oracle never parses PNG —
      // it recomputes the channel means from the same formula (PPM pattern)
      // BMP through the same container-agnostic ImageIO stage (different
      // geometry so a png/bmp mixup cannot silently pass)
      """WITH xs AS (SELECT unnest(range(0, 4)) AS x),
        |ys AS (SELECT unnest(range(0, 2)) AS y),
        |px AS (SELECT d.doc_id, xs.x, ys.y FROM documents d, xs, ys)
        |SELECT doc_id, true AS ok,
        |  CAST(4 AS BIGINT) AS width, CAST(2 AS BIGINT) AS height,
        |  avg(CAST((doc_id + 10 * x) % 256 AS DOUBLE)) AS mean_r,
        |  avg(CAST((doc_id + 100 * y) % 256 AS DOUBLE)) AS mean_g,
        |  avg(CAST(doc_id % 256 AS DOUBLE)) AS mean_b
        |FROM px GROUP BY doc_id""".stripMargin),
    QuerySpec("q_multimodal_png", (s, d) => {
      // REAL PNG end to end: synthesize a 5x3 PNG per doc JVM-side
      // (ImageIO encode; pixels r = (doc_id + 10x) % 256, g = (doc_id +
      // 100y) % 256, b = doc_id % 256), decode through the ImageIO batched
      // stage, and emit exact channel means — PNG is lossless, so the
      // oracle recomputes the means straight from the pixel formula
      import s.implicits._
      val w = 5; val h = 3
      val payloads = documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.pngFileJvm(w, h, (x, y) => (
            ((id + 10 * x) % 256).toInt,
            ((id + 100 * y) % 256).toInt,
            (id % 256).toInt)))
        }).toDF("doc_id", "payload")
      Multimodal.decodeImageBatched(payloads)
        .select(col("doc_id"), col("ok"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
    },
      """WITH xs AS (SELECT unnest(range(0, 5)) AS x),
        |ys AS (SELECT unnest(range(0, 3)) AS y),
        |px AS (SELECT d.doc_id, xs.x, ys.y FROM documents d, xs, ys)
        |SELECT doc_id, true AS ok,
        |  CAST(5 AS BIGINT) AS width, CAST(3 AS BIGINT) AS height,
        |  avg(CAST((doc_id + 10 * x) % 256 AS DOUBLE)) AS mean_r,
        |  avg(CAST((doc_id + 100 * y) % 256 AS DOUBLE)) AS mean_g,
        |  avg(CAST(doc_id % 256 AS DOUBLE)) AS mean_b
        |FROM px GROUP BY doc_id""".stripMargin),
  )
}
