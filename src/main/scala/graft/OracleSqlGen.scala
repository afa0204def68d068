package graft

import graft.functions.CrossHash

/** DuckDB oracle-SQL generator for the sketch/ANN queries.
  *
  * Every hash these queries use is md5-60 ([[CrossHash]]), so the oracle can
  * recompute the *identical* values: the permutation constants and the ±1
  * hyperplane matrices are generated by the same fixed-seed code the Spark
  * expressions use, and inlined here as SQL literals. Floating-point folds
  * are written as `list_reduce((a, b) -> a + b)` — the same left-to-right
  * association Spark's `aggregate` performs, so doubles match bit-for-bit.
  */
object OracleSqlGen {

  private val M = CrossHash.M61

  /** md5-60 in DuckDB: first 15 hex chars of md5 as BIGINT. */
  def h60(e: String): String = s"(('0x' || substr(md5($e), 1, 15))::BIGINT)"

  /** Whitespace tokens of an expression (mirrors TextAnalysis.tokens). */
  def tokensSql(e: String): String =
    s"list_filter(string_split_regex($e, '\\s+'), t -> t != '')"

  /** Distinct word n-gram shingles of lower(text) (mirrors Dedup.shingles). */
  def shinglesSql(textExpr: String, n: Int = 3): String = {
    val toks = tokensSql(s"lower($textExpr)")
    s"""list_distinct(list_transform(
       |      range(1, greatest(len($toks) - ${n - 1}, 1) + 1),
       |      i -> array_to_string(list_slice($toks, i, i + ${n - 1}), ' ')))""".stripMargin
  }

  /** The k-element minhash signature over a BIGINT-list column `h0`.
    * Each permutation is (a·x + c) mod M61 via the same Mersenne folding the
    * Spark kernel uses (2^61 ≡ 1 mod M61; see CrossHash.perm).
    */
  def minhashSigSql(h0: String, k: Int): String =
    CrossHash.minhashConstants(k).map { case (a, c) =>
      s"list_min(list_transform($h0, x -> " +
        s"((($a * (x >> 32)) >> 29) + ((($a * (x >> 32)) & 536870911) << 32) + " +
        s"$a * (x & 4294967295) + $c) % $M))"
    }.mkString("[\n      ", ",\n      ", "]")

  /** The Gopher quality rule set (mirrors TextAnalysis.gopherRules):
    * integer-exact counts, IEEE ratios, five rule booleans + keep. Shared
    * by the batch row and its streaming sibling.
    */
  def gopherRulesSql(minTokens: Int = 50, maxTokens: Int = 100000,
                     minReqStopwords: Int = 2): String =
    s"""WITH t AS (SELECT doc_id, text,
       |    list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS toks
       |  FROM documents),
       |m AS (SELECT doc_id,
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
       |  FROM t),
       |r AS (SELECT *,
       |    CASE WHEN n_tokens > 0
       |      THEN CAST(sum_tok_len AS DOUBLE) / n_tokens ELSE 0.0 END
       |      AS mean_tok_len,
       |    CASE WHEN n_tokens > 0
       |      THEN CAST(n_symbol AS DOUBLE) / n_tokens ELSE 0.0 END
       |      AS symbol_ratio,
       |    CASE WHEN n_tokens > 0
       |      THEN CAST(n_alpha AS DOUBLE) / n_tokens ELSE 0.0 END
       |      AS alpha_frac
       |  FROM m),
       |b AS (SELECT *,
       |    n_tokens BETWEEN $minTokens AND $maxTokens AS r_len,
       |    n_tokens > 0 AND mean_tok_len BETWEEN 3.0 AND 10.0 AS r_mean,
       |    n_tokens > 0 AND symbol_ratio <= 0.1 AS r_symbol,
       |    n_tokens > 0 AND alpha_frac >= 0.8 AS r_alpha,
       |    n_req_stop >= $minReqStopwords AS r_stop
       |  FROM r)
       |SELECT doc_id, n_tokens, sum_tok_len, n_symbol, n_alpha, n_req_stop,
       |  mean_tok_len, symbol_ratio, alpha_frac,
       |  r_len, r_mean, r_symbol, r_alpha, r_stop,
       |  r_len AND r_mean AND r_symbol AND r_alpha AND r_stop AS keep
       |FROM b""".stripMargin

  /** Cross-doc duplicated n-gram spans (mirrors Dedup.duplicateNgramSpans):
    * positional gram hashes → >= minDocs distinct-doc grams → per-doc
    * gaps-and-islands merge (break when pos - prev > n) → maximal spans.
    */
  def dupNgramSpansSql(n: Int = 8, minDocs: Int = 2): String = {
    val toks = tokensSql("lower(text)")
    val gramHash = h60(s"array_to_string(list_slice(toks, i + 1, i + $n), ' ')")
    s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents),
       |g AS (SELECT doc_id, list_transform(
       |    range(0, greatest(len(toks) - ${n - 1}, 0)),
       |    i -> $gramHash) AS ghs
       |  FROM tok),
       |p AS (SELECT doc_id, unnest(ghs) AS gh,
       |    unnest(range(0, len(ghs))) AS pos
       |  FROM g),
       |dup AS (SELECT gh FROM (SELECT DISTINCT gh, doc_id FROM p)
       |  GROUP BY 1 HAVING count(*) >= $minDocs),
       |dp AS (SELECT p.doc_id, p.pos FROM p JOIN dup USING (gh)),
       |pr AS (SELECT doc_id, pos,
       |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |  FROM dp),
       |isl AS (SELECT doc_id, pos,
       |    sum(CASE WHEN prev IS NULL OR pos - prev > $n THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM pr)
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(pos) + ${n - 1} AS BIGINT) AS span_end,
       |  CAST(max(pos) + $n - min(pos) AS BIGINT) AS span_tokens
       |FROM isl GROUP BY doc_id, island""".stripMargin
  }

  /** Full near-dup LSH pipeline (mirrors Dedup.nearDupPairs defaults). */
  def nearDupLshSql(n: Int = 3, k: Int = 32, bands: Int = 8,
                    minEstJaccard: Double = 0.5, maxBucketSize: Int = 10000,
                    docsFrom: String = "documents"): String = {
    val r = k / bands
    s"""WITH tok AS (SELECT doc_id, ${shinglesSql("text", n)} AS sh FROM $docsFrom),
       |h AS (SELECT doc_id, list_transform(sh, s -> ${h60("s")}) AS h0 FROM tok),
       |sg AS (SELECT doc_id, ${minhashSigSql("h0", k)} AS sig FROM h),
       |b0 AS (SELECT doc_id, sig, unnest(range(0, $bands)) AS band FROM sg),
       |bands AS (SELECT doc_id, sig, band,
       |    ${h60(s"array_to_string(list_slice(sig, band * $r + 1, band * $r + $r), ',')")} AS band_hash
       |  FROM b0),
       |capped AS (SELECT * FROM bands
       |  QUALIFY count(*) OVER (PARTITION BY band, band_hash) <= $maxBucketSize),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sig AS sig_a, b.sig AS sig_b
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |est AS (SELECT id_a, id_b,
       |    CAST(list_sum(list_transform(range(1, ${k + 1}),
       |      i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS DOUBLE) / $k
       |    AS est_jaccard
       |  FROM pairs)
       |SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= $minEstJaccard""".stripMargin
  }

  /** Train/test decontamination (mirrors Dedup.contamination): fraction of
    * each test doc's distinct n-grams present anywhere in the train split. */
  def contaminationSql(n: Int = 5, testSource: String = "src1"): String =
    s"""WITH tr AS (SELECT DISTINCT unnest(list_transform(${shinglesSql("text", n)},
       |      s -> ${h60("s")})) AS s
       |  FROM documents WHERE source != '$testSource'),
       |te AS (SELECT doc_id, list_transform(${shinglesSql("text", n)},
       |      s -> ${h60("s")}) AS hs
       |  FROM documents WHERE source = '$testSource'),
       |sz AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_grams FROM te),
       |ov AS (SELECT doc_id, count(*) AS n_overlap
       |  FROM (SELECT doc_id, unnest(hs) AS s FROM te) g JOIN tr USING (s)
       |  GROUP BY 1)
       |SELECT sz.doc_id, sz.n_grams,
       |  coalesce(ov.n_overlap, 0) AS n_overlap,
       |  CASE WHEN sz.n_grams > 0
       |    THEN CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / sz.n_grams
       |    ELSE 0.0 END AS overlap_frac
       |FROM sz LEFT JOIN ov USING (doc_id)""".stripMargin

  /** Top-K shingles by document frequency (mirrors Dedup.boilerplateShingles). */
  def boilerplateSql(n: Int = 3, topK: Int = 20): String =
    s"""WITH tok AS (SELECT doc_id, ${shinglesSql("text", n)} AS sh FROM documents),
       |inv AS (SELECT unnest(list_transform(sh, s -> ${h60("s")})) AS s FROM tok),
       |dfq AS (SELECT s, count(*) AS df_n FROM inv GROUP BY 1)
       |SELECT s, df_n,
       |  CAST(row_number() OVER (ORDER BY df_n DESC, s) AS BIGINT) AS rank
       |FROM dfq QUALIFY rank <= $topK""".stripMargin

  /** Connected components over the near-dup pairs (mirrors
    * Dedup.dupComponents over nearDupPairs defaults): recursive reachability,
    * component = min reachable id. */
  def dedupComponentsSql(): String =
    s"""WITH RECURSIVE
       |p AS (SELECT id_a, id_b FROM (${nearDupLshSql()})),
       |nodes AS (SELECT id_a AS id FROM p UNION SELECT id_b FROM p),
       |edges AS (SELECT id_a, id_b FROM p UNION SELECT id_b, id_a FROM p),
       |reach(id, lbl) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.id_b, r.lbl FROM reach r JOIN edges e ON e.id_a = r.id)
       |SELECT id AS doc_id, min(lbl) AS component,
       |  id = min(lbl) AS is_survivor
       |FROM reach GROUP BY id""".stripMargin

  /** 60-bit simhash over distinct lowercased tokens (mirrors Dedup.withSimhash). */
  def simhashSql(bits: Int = 60): String =
    s"""WITH tok AS (SELECT doc_id,
       |    list_distinct(${tokensSql("lower(text)")}) AS toks FROM documents),
       |h AS (SELECT doc_id, list_transform(toks, s -> ${h60("s")}) AS hs FROM tok)
       |SELECT doc_id, CAST(list_sum(list_transform(range(0, $bits), j ->
       |    CASE WHEN list_sum(list_transform(hs,
       |        x -> CASE WHEN ((x >> j) & 1) = 1 THEN 1 ELSE -1 END)) > 0
       |      THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
       |FROM h""".stripMargin

  /** Simhash bit-band near-dup pairs (mirrors Dedup.simhashNearDupPairs):
    * candidates agree exactly on one of the `bands` disjoint bit slices of
    * the 60-bit fingerprint, survivors verify hamming <= maxHamming. */
  def simhashNearDupSql(bands: Int = 4, maxHamming: Int = 3,
                        maxBucketSize: Int = 10000): String = {
    val width = 60 / bands
    val mask = (1L << width) - 1
    // the QUALIFY cap mirrors Dedup.simhashNearDupPairs's hot-bucket drop —
    // it was MISSING until the r18 sf1 sweep caught it: at sf1 the
    // word-rotated replicas share identical token bags, hence identical
    // simhashes, and a band bucket crosses 10,000 members for the first
    // time (spark 24.1M pairs vs uncapped oracle 27.4M). Below sf1 no
    // bucket ever reached the cap, so the omission was invisible.
    s"""WITH sh AS (${simhashSql()}),
       |b0 AS (SELECT doc_id, simhash, band,
       |    (simhash >> (band * $width)) & $mask AS band_bits
       |  FROM sh, (SELECT unnest(range(0, $bands)) AS band)),
       |b AS (SELECT * FROM b0
       |  QUALIFY count(*) OVER (PARTITION BY band, band_bits) <= $maxBucketSize),
       |p AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
       |    x.simhash AS sh_a, y.simhash AS sh_b
       |  FROM b x JOIN b y
       |    ON x.band = y.band AND x.band_bits = y.band_bits
       |    AND x.doc_id < y.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
       |FROM p WHERE bit_count(xor(sh_a, sh_b)) <= $maxHamming""".stripMargin
  }

  /** (doc_id, sig_h): md5-60 digest of the comma-joined minhash signature
    * (mirrors CorpusPrep.sigDigest). */
  def minhashDigestSql(n: Int = 3, k: Int = 32): String =
    s"""WITH tok AS (SELECT doc_id, ${shinglesSql("text", n)} AS sh FROM documents),
       |h AS (SELECT doc_id, list_transform(sh, s -> ${h60("s")}) AS h0 FROM tok),
       |sg AS (SELECT doc_id, ${minhashSigSql("h0", k)} AS sig FROM h)
       |SELECT doc_id, ${h60("array_to_string(sig, ',')")} AS sig_h FROM sg""".stripMargin

  /** Capped blocked Jaccard (mirrors Dedup.blockedJaccard defaults).
    * `blockExpr = "1"` makes the truth corpus-wide (the recall QC shape). */
  def blockedJaccardSql(n: Int = 3, minJaccard: Double = 0.05,
                        maxDocFrac: Double = 0.5,
                        blockExpr: String = "source",
                        srcTable: String = "documents"): String =
    s"""WITH tok AS (SELECT $blockExpr AS blk, doc_id, ${shinglesSql("text", n)} AS sh
       |  FROM $srcTable),
       |inv AS (SELECT blk, doc_id AS id,
       |    unnest(list_transform(sh, s -> ${h60("s")})) AS s FROM tok),
       |bs AS (SELECT blk, count(*) AS n_docs FROM tok GROUP BY 1),
       |dfq AS (SELECT blk, s, count(*) AS df_n FROM inv GROUP BY 1, 2),
       |kept AS (SELECT inv.blk, inv.s, inv.id FROM inv
       |  JOIN dfq ON dfq.blk = inv.blk AND dfq.s = inv.s
       |  JOIN bs ON bs.blk = inv.blk
       |  WHERE df_n <= n_docs * $maxDocFrac),
       |sizes AS (SELECT id, count(*) AS n_sh FROM kept GROUP BY 1),
       |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
       |  FROM kept a JOIN kept b
       |    ON a.blk = b.blk AND a.s = b.s AND a.id < b.id
       |  GROUP BY 1, 2),
       |j AS (SELECT id_a, id_b,
       |    CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard
       |  FROM inter
       |  JOIN (SELECT id AS id_a, n_sh AS n_a FROM sizes) USING (id_a)
       |  JOIN (SELECT id AS id_b, n_sh AS n_b FROM sizes) USING (id_b))
       |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= $minJaccard""".stripMargin

  /** Winnowing partial-overlap pairs (mirrors Dedup.winnowOverlapPairs):
    * char k-gram md5-60 hashes, window-minimum selection, distinct per doc,
    * document-frequency-capped inverted self-join, pairs sharing >=
    * minShared selected fingerprints. */
  def winnowPairsSql(kChars: Int = 8, window: Int = 4, minShared: Long = 2,
                     maxDocFreq: Long = 100): String =
    s"""WITH nm AS (SELECT doc_id,
       |    regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM documents),
       |h AS (SELECT doc_id, list_transform(
       |    range(1, greatest(length(t) - ${kChars - 1}, 0) + 1),
       |    i -> ${h60(s"substr(t, i, $kChars)")}) AS hs FROM nm),
       |sel AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(hs) - ${window - 1}, 0) + 1),
       |    j -> list_min(list_slice(hs, j, j + ${window - 1})))) AS fps FROM h),
       |inv AS (SELECT doc_id AS id, unnest(fps) AS fp FROM sel),
       |capped AS (SELECT * FROM inv
       |  QUALIFY count(*) OVER (PARTITION BY fp) <= $maxDocFreq),
       |p AS (SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM capped a JOIN capped b ON a.fp = b.fp AND a.id < b.id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= $minShared""".stripMargin

  /** CTE block producing the exact ed ≤ k pair set `edp(doc_a, doc_b, ed)`.
    *
    * The r17 form was the length-banded brute force — every |Δlen| ≤ k pair
    * got a full levenshtein, which is quadratic in the corpus and
    * multi-hour at sf1 (the fixture's word rotation preserves lengths
    * exactly, so length bands are dense). This form prefilters with the
    * oracle's OWN pigeonhole blocking, independent of the engine's
    * PassJoin keys but sound by the same theorem: tile each doc into k+1
    * segments (first `n mod (k+1)` get the extra char); if ed(a, b) ≤ k
    * then at least one segment of b is edit-free, so it appears VERBATIM
    * in a, same length, shifted by the net indel count before it — at most
    * ±k. Candidates are the equi-join of b's segment hashes with a's
    * substring hashes over every partner length m ∈ [n−k, n+k], segment
    * index, and shift d ∈ [−k, k] (a looser window than the engine's
    * multi-match-aware one — a provable SUPERSET of its candidates), then
    * the exact levenshtein keeps ed ≤ k. Docs shorter than k+1 chars have
    * no nonempty tiling and pair brute-force within the ≤ 2k length band
    * (the engine's tiny arm).
    */
  private def editDistPairCtes(k: Int): String = {
    val kk = k + 1
    s"""s AS (SELECT doc_id, text AS t, length(text) AS n FROM documents),
       |big AS (SELECT * FROM s WHERE n >= $kk),
       |segix AS (SELECT unnest(range(0, $kk)) AS i),
       |-- segment i of a length-n string: q = n // ($kk), r = n % ($kk);
       |-- start (1-based) = i*q + least(i, r) + 1, len = q + (i < r)
       |idx AS (SELECT doc_id, n, i,
       |    ${h60(s"substring(t, CAST(i * (n // $kk) + least(i, n % $kk) + 1 AS INT), CAST(n // $kk + CASE WHEN i < n % $kk THEN 1 ELSE 0 END AS INT))")} AS h
       |  FROM big, segix),
       |prb0 AS (SELECT doc_id AS p_id, t, n, i, n + dm AS m, d
       |  FROM big, segix,
       |    (SELECT unnest(range(-$k, ${k + 1})) AS d) ds,
       |    (SELECT unnest(range(-$k, ${k + 1})) AS dm) ms
       |  WHERE n + dm >= $kk),
       |prb AS (SELECT p_id, m, i,
       |    ${h60(s"substring(t, CAST(i * (m // $kk) + least(i, m % $kk) + 1 + d AS INT), CAST(m // $kk + CASE WHEN i < m % $kk THEN 1 ELSE 0 END AS INT))")} AS h
       |  FROM prb0
       |  WHERE i * (m // $kk) + least(i, m % $kk) + 1 + d >= 1
       |    AND i * (m // $kk) + least(i, m % $kk) + d
       |        + m // $kk + CASE WHEN i < m % $kk THEN 1 ELSE 0 END <= n),
       |cand AS (SELECT DISTINCT least(p.p_id, x.doc_id) AS doc_a,
       |    greatest(p.p_id, x.doc_id) AS doc_b
       |  FROM prb p JOIN idx x ON x.n = p.m AND x.i = p.i AND x.h = p.h
       |  WHERE p.p_id != x.doc_id),
       |tinycand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM s a JOIN s b
       |    ON a.doc_id < b.doc_id AND abs(a.n - b.n) <= $k
       |  WHERE least(a.n, b.n) < $kk AND greatest(a.n, b.n) <= ${2 * k}),
       |allcand AS (SELECT doc_a, doc_b FROM cand
       |  UNION SELECT doc_a, doc_b FROM tinycand),
       |edp AS (SELECT c.doc_a, c.doc_b,
       |    CAST(levenshtein(sa.t, sb.t) AS BIGINT) AS ed
       |  FROM allcand c
       |  JOIN s sa ON sa.doc_id = c.doc_a
       |  JOIN s sb ON sb.doc_id = c.doc_b
       |  WHERE abs(sa.n - sb.n) <= $k AND levenshtein(sa.t, sb.t) <= $k)""".stripMargin
  }

  /** Exact edit-distance pairs (mirrors EditDistance.similarityJoin):
    * pigeonhole-blocked candidates + exact levenshtein — see
    * [[editDistPairCtes]] for the soundness argument.
    */
  def editDistPairsSql(k: Int = 4): String =
    s"""WITH ${editDistPairCtes(k)}
       |SELECT doc_a, doc_b, ed FROM edp""".stripMargin

  /** Greedy min-id survivors over the edit-distance pair graph (mirrors
    * EditDistance.dedupByEditDistance).
    */
  def editDistDedupSql(k: Int = 4): String =
    s"""WITH ${editDistPairCtes(k)}
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT doc_b FROM edp)""".stripMargin

  /** Record-linkage variant (mirrors EditDistance.similarityJoinBetween
    * over the doc_id parity split): all (left, right) pairs within ed ≤ k.
    * Same pigeonhole blocking as [[editDistPairCtes]], tiled ONE-SIDED:
    * if ed(l, r) ≤ k then some segment of r's k+1-tiling is edit-free and
    * appears verbatim in l shifted ≤ ±k — so indexing the right side's
    * segments and probing the left side's substrings is complete on its
    * own. Right docs shorter than k+1 chars (no nonempty tiling) pair
    * brute-force within the |Δn| ≤ k band (empty on the fixtures, kept
    * for exactness).
    */
  def editDistLinkSql(k: Int = 4): String = {
    val kk = k + 1
    def segStart(n: String, i: String) =
      s"$i * ($n // $kk) + least($i, $n % $kk) + 1"
    def segLen(n: String, i: String) =
      s"$n // $kk + CASE WHEN $i < $n % $kk THEN 1 ELSE 0 END"
    s"""WITH l AS (SELECT doc_id AS left_id, text AS t, length(text) AS n
       |    FROM documents WHERE doc_id % 2 = 0),
       |r AS (SELECT doc_id AS right_id, text AS t, length(text) AS n
       |    FROM documents WHERE doc_id % 2 = 1),
       |segix AS (SELECT unnest(range(0, $kk)) AS i),
       |idx AS (SELECT right_id, n, i,
       |    ${h60(s"substring(t, CAST(${segStart("n", "i")} AS INT), CAST(${segLen("n", "i")} AS INT))")} AS h
       |  FROM r, segix WHERE n >= $kk),
       |prb0 AS (SELECT left_id, t, n, i, n + dm AS m, d
       |  FROM l, segix,
       |    (SELECT unnest(range(-$k, ${k + 1})) AS d) ds,
       |    (SELECT unnest(range(-$k, ${k + 1})) AS dm) ms
       |  WHERE n + dm >= $kk),
       |prb AS (SELECT left_id, m, i,
       |    ${h60(s"substring(t, CAST(${segStart("m", "i")} + d AS INT), CAST(${segLen("m", "i")} AS INT))")} AS h
       |  FROM prb0
       |  WHERE ${segStart("m", "i")} + d >= 1
       |    AND ${segStart("m", "i")} + d - 1 + ${segLen("m", "i")} <= n),
       |cand AS (SELECT DISTINCT p.left_id, x.right_id
       |  FROM prb p JOIN idx x ON x.n = p.m AND x.i = p.i AND x.h = p.h),
       |tinycand AS (SELECT l.left_id, r.right_id
       |  FROM l JOIN r ON abs(l.n - r.n) <= $k WHERE r.n < $kk),
       |allcand AS (SELECT left_id, right_id FROM cand
       |  UNION SELECT left_id, right_id FROM tinycand)
       |SELECT c.left_id, c.right_id,
       |    CAST(levenshtein(l.t, r.t) AS BIGINT) AS ed
       |FROM allcand c
       |JOIN l ON l.left_id = c.left_id
       |JOIN r ON r.right_id = c.right_id
       |WHERE abs(l.n - r.n) <= $k AND levenshtein(l.t, r.t) <= $k""".stripMargin
  }

  /** LSH-tier recall QC (mirrors Dedup.nearDupRecall): banded LSH pairs vs
    * the exact-Jaccard truth at the same threshold, reduced to one
    * (n_exact, n_found, recall) row — integer counts, one division.
    * `sampleFraction < 1` restricts the exact arm to the deterministic
    * md5-bucket subset (mirrors Sampling.hashSample, salt "recall") so the
    * quadratic truth arm is bounded by construction; the LSH arm stays the
    * full-corpus banded join, exactly as the engine runs it. */
  def nearDupRecallSql(n: Int = 3, minJaccard: Double = 0.5,
                       sampleFraction: Double = 1.0): String = {
    val srcTable =
      if (sampleFraction >= 1.0) "documents"
      else s"""(SELECT * FROM documents
         | WHERE ('0x' || substr(md5('recall:' || doc_id), 1, 15))::BIGINT
         |   % 10000 < ${math.round(sampleFraction * 10000)})""".stripMargin
    s"""WITH x AS (SELECT id_a, id_b FROM (
       |${blockedJaccardSql(n, minJaccard, 1.0, "1", srcTable)})),
       |l AS (SELECT id_a, id_b, 1 AS hit FROM (
       |${nearDupLshSql(n, 32, 8, minJaccard)})),
       |j AS (SELECT x.id_a, x.id_b, coalesce(l.hit, 0) AS hit
       |  FROM x LEFT JOIN l USING (id_a, id_b))
       |SELECT CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(coalesce(sum(hit), 0) AS BIGINT) AS n_found,
       |  CASE WHEN count(*) > 0
       |    THEN CAST(sum(hit) AS DOUBLE) / count(*) END AS recall
       |FROM j""".stripMargin
  }

  // ------------------------------------------------- Z-order keys and BM25

  /** The bit-interleaved Z-order key, unrolled exactly like
    * [[graft.operators.AccessPatterns.zorderKey]]: bit i of dim j at key
    * bit i·N + j. Bit positions never collide, so the OR chain is the
    * interleave.
    */
  def zorderKeySql(cols: Seq[String], bits: Int): String =
    (for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield s"(((CAST($c AS BIGINT) >> $i) & 1) << ${i * cols.size + j})")
      .mkString(" | ")

  /** BM25 top-k (mirrors Retrieval.bm25TopK): rational idf
    * `(N − df + ½)/(df + ½) + 1`, saturation `tf·(k1+1)/(tf + k1·(1−b+
    * b·dl/avgdl))`, per-doc partials summed in TERM order (seedless
    * `list_reduce` ≡ Spark's 0.0-seeded fold since every partial is
    * positive). Derived constants (k1+1, 1−b) are interpolated from the
    * SAME doubles the Spark plan folds, so literals parse back identical.
    */
  def bm25Sql(queries: Seq[(Long, String)], k: Int,
              k1: Double = 1.2, b: Double = 0.75): String = {
    val qTerms = queries.flatMap { case (qid, text) =>
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        .map(t => (qid, t))
    }
    require(qTerms.nonEmpty, "no query has any term")
    require(qTerms.forall { case (_, t) => !t.contains("'") },
      "query terms must not contain quotes")
    val termList = qTerms.map(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    val valuesList = qTerms
      .map { case (qid, t) => s"($qid, '$t')" }.mkString(", ")
    s"""WITH tok AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')
       |      AS toks
       |  FROM documents),
       |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tok),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM d),
       |qt AS (SELECT CAST(q AS BIGINT) AS query_id, t AS term
       |  FROM (VALUES $valuesList) AS v(q, t)),
       |x AS (SELECT doc_id, dl, unnest(toks) AS tok FROM d),
       |tf AS (SELECT doc_id, dl, tok AS term, CAST(count(*) AS BIGINT) AS tf
       |  FROM x WHERE tok IN ($termList) GROUP BY 1, 2, 3),
       |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |p AS (SELECT qt.query_id, tf.doc_id, tf.term,
       |    ((CAST(st.n_docs - dft.df AS DOUBLE) + 0.5)
       |      / (CAST(dft.df AS DOUBLE) + 0.5) + 1.0)
       |    * (CAST(tf.tf AS DOUBLE) * ${k1 + 1.0})
       |    / (CAST(tf.tf AS DOUBLE)
       |      + $k1 * (${1.0 - b} + $b * CAST(tf.dl AS DOUBLE) / st.avgdl))
       |    AS part
       |  FROM tf JOIN dft USING (term) JOIN qt USING (term), st),
       |sc AS (SELECT query_id, doc_id,
       |    list_reduce(list(part ORDER BY term), (x, y) -> x + y) AS score
       |  FROM p GROUP BY 1, 2)
       |SELECT query_id, doc_id, score, rank FROM (
       |  SELECT query_id, doc_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |  FROM sc)
       |WHERE rank <= $k""".stripMargin
  }

  /** The FULL iterated BPE trainer loop (mirrors
    * TextAnalysis.trainBpeMerges for `nMerges` rounds): symbol sequences
    * ride as strings whose boundaries (ends included) are DOUBLED chr(1)
    * delimiters, which makes ONE left-to-right `replace` per round equal
    * the trainer's greedy fold — the merge pattern consumes one delimiter
    * from each side of the pair, leaving the other for an immediately
    * adjacent occurrence ("banana" with (a,n) merges BOTH sites; a
    * single-delimiter pattern would skip every second back-to-back match
    * at the shared boundary). Each round's DATA-DEPENDENT top pair is a
    * one-row CTE the next round's rewrite consumes. Ties break
    * (pair_count DESC, lhs, rhs) on both engines. Assumes every round
    * finds a pair with count >= 2 (true on the fixture corpora; the
    * engine stops early otherwise).
    */
  /** Shared CTE chain for [[bpeTrainLoopSql]]/[[bpeEncodeSql]]: v0..vN
    * carry (token, cf, s) with s the delimited symbol string; t0..t(N-1)
    * are each round's winning pair. */
  private def bpeCtes(nMerges: Int): String = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val d = "chr(1)"
    val rounds = (0 until nMerges).map { i =>
      s"""p$i AS (SELECT cf, syms[j] AS lhs, syms[j + 1] AS rhs FROM (
         |    SELECT cf, syms, unnest(range(1, len(syms))) AS j FROM (
         |      SELECT cf, list_filter(string_split(s, $d), x -> x != '') AS syms
         |      FROM v$i))),
         |a$i AS (SELECT lhs, rhs, CAST(sum(cf) AS BIGINT) AS pair_count
         |  FROM p$i GROUP BY 1, 2),
         |t$i AS (SELECT lhs, rhs, pair_count FROM a$i
         |  ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
         |v${i + 1} AS (SELECT token, cf,
         |    replace(s, $d || t.lhs || $d || $d || t.rhs || $d,
         |      $d || t.lhs || t.rhs || $d) AS s
         |  FROM v$i, t$i t)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (SELECT doc_id,
       |    unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
       |      AS token
       |  FROM documents),
       |g AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
       |vcb AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM g GROUP BY 1),
       |v0 AS (SELECT token, cf,
       |    regexp_replace(token, '(.)', $d || $d || '\\1', 'g') ||
       |      $d || $d AS s
       |  FROM vcb),
       |$rounds""".stripMargin
  }

  def bpeTrainLoopSql(nMerges: Int): String = {
    val arms = (0 until nMerges).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS merge_rank, lhs, rhs,
         |  lhs || rhs AS merged, pair_count FROM t$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeCtes(nMerges)}
       |$arms""".stripMargin
  }

  /** BPE ENCODE (mirrors TextAnalysis.bpeApplyMerges over the vocabulary
    * with the trained table): the final v$nMerges CTE IS every token's
    * post-merge symbol sequence — explode it to scalar rows.
    */
  def bpeEncodeSql(nMerges: Int): String =
    s"""WITH ${bpeCtes(nMerges)}
       |SELECT token, cf, CAST(j - 1 AS BIGINT) AS pos, syms[j] AS piece
       |FROM (SELECT token, cf, syms, unnest(range(1, len(syms) + 1)) AS j
       |  FROM (SELECT token, cf,
       |      list_filter(string_split(s, chr(1)), x -> x != '') AS syms
       |    FROM v$nMerges))""".stripMargin

  /** Exploded md5-60-derived stub features (mirrors Multimodal.fakeDecodeFeatures). */
  def multimodalFeaturesSql(dim: Int = 16): String =
    s"""SELECT doc_id, idx,
       |  CAST(${h60("sha256(text) || ':' || idx")} % 1000 AS DOUBLE) / 500.0 - 1.0 AS value
       |FROM (SELECT doc_id, text, unnest(range(0, $dim)) AS idx FROM documents)""".stripMargin
}
