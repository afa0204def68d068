package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for large-scale training-data pipelines: tokenization,
  * quality scoring, language-ID heuristics, fingerprinting.
  *
  * All operators are pure column expressions (whole-stage codegen, no UDFs):
  * at 100 TB these run as a narrow map over the document scan — no shuffle
  * unless the caller aggregates.
  */
object TextAnalysis {

  /** Whitespace tokenization; empty tokens (leading/multi spaces) dropped. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Per-document token/char/quality metrics. Integer counts + IEEE double
    * ratios of those counts — bit-identical across engines. Ratios are NULL
    * for token-less documents (ANSI mode would otherwise throw on the
    * division — real corpora contain empty docs).
    */
  def textStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    df.withColumn("n_chars_c", length(t).cast("long"))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_stopwords",
        size(filter(toks, w => lower(w).isInCollection(stopwords))).cast("long"))
      .withColumn("n_punct",
        (length(t) - length(regexp_replace(t, "[.,;:!?]", ""))).cast("long"))
      .withColumn("sum_token_len",
        aggregate(toks, lit(0), (acc, w) => acc + length(w)).cast("long"))
      .withColumn("mean_token_len",
        when(col("n_tokens") > 0,
          col("sum_token_len").cast("double") / col("n_tokens")))
      .withColumn("stopword_ratio",
        when(col("n_tokens") > 0,
          col("n_stopwords").cast("double") / col("n_tokens")))
  }

  /** Composite quality score in [0,1] — length band, token shape, stopword
    * presence — the usual cheap pre-filter before expensive dedup/training.
    * Weights are arbitrary but fixed; the score is a deterministic function
    * of integer counts.
    */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val stats = textStats(df, textCol)
    val lenOk = when(col("n_tokens").between(10, 1000), 1.0).otherwise(0.0)
    val tokOk = when(col("mean_token_len").between(2.0, 12.0), 1.0).otherwise(0.0)
    val stopOk = when(col("stopword_ratio") > 0.01, 1.0).otherwise(0.0)
    // nested when: CaseWhen evaluates the division only on the n_chars_c > 0
    // branch (a conjunction would not short-circuit the ANSI divide)
    val punctOk = when(col("n_chars_c") > 0,
        when(col("n_punct").cast("double") / col("n_chars_c") < 0.2, 1.0)
          .otherwise(0.0))
      .otherwise(0.0)
    stats
      .withColumn("quality",
        lenOk * 0.4 + tokOk * 0.2 + stopOk * 0.2 + punctOk * 0.2)
      .withColumn("keep", col("quality") >= 0.6)
  }

  /** The Gopher rule set's required stopwords (Rae et al. 2021, §A1.1 —
    * "contains at least 2 of ..."). Distinct from [[stopwords]] (a ratio
    * denominatorset); this is a PRESENCE test list.
    */
  val gopherStopwords: Seq[String] = Seq(
    "the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher quality rule set (Rae et al. 2021, §A1.1 — the
    * MassiveText heuristics nearly every LLM corpus pipeline since has
    * copied), as one codegen'd projection of integer-exact counts and IEEE
    * ratios:
    *  - r_len:     minTokens <= n_tokens <= maxTokens (paper: 50..100k)
    *  - r_mean:    3 <= mean token length <= 10
    *  - r_symbol:  ('#' + '...' occurrences) / n_tokens <= 0.1
    *  - r_alpha:   >= 80% of tokens contain an alphabetic character
    *  - r_stop:    >= 2 distinct [[gopherStopwords]] present
    * `keep` = all five. Counts stay integers until the final divisions,
    * so the DuckDB oracle reproduces every bit; token-less docs fail all
    * rules without dividing (ANSI mode).
    */
  def gopherRules(df: DataFrame, textCol: String = "text",
                  minTokens: Int = 50, maxTokens: Int = 100000,
                  minReqStopwords: Int = 2,
                  keepText: Boolean = false): DataFrame = {
    val toks = tokens(col(textCol))
    val lowered = transform(toks, w => lower(w))
    val nSymbol =
      (length(col(textCol)) - length(regexp_replace(col(textCol), "#", ""))) +
        (length(col(textCol)) -
          length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / 3
    df.select(col("doc_id"), col(textCol))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("sum_tok_len",
        aggregate(toks, lit(0L), (acc, w) => acc + length(w).cast("long")))
      .withColumn("n_symbol", nSymbol.cast("long"))
      .withColumn("n_alpha",
        size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("n_req_stop",
        size(filter(array(gopherStopwords.map(lit): _*),
          s => array_contains(lowered, s))).cast("long"))
      .withColumn("mean_tok_len",
        when(col("n_tokens") > 0,
          col("sum_tok_len").cast("double") / col("n_tokens")).otherwise(0.0))
      .withColumn("symbol_ratio",
        when(col("n_tokens") > 0,
          col("n_symbol").cast("double") / col("n_tokens")).otherwise(0.0))
      .withColumn("alpha_frac",
        when(col("n_tokens") > 0,
          col("n_alpha").cast("double") / col("n_tokens")).otherwise(0.0))
      .withColumn("r_len",
        col("n_tokens").between(minTokens, maxTokens))
      .withColumn("r_mean",
        col("n_tokens") > 0 && col("mean_tok_len").between(3.0, 10.0))
      .withColumn("r_symbol",
        col("n_tokens") > 0 && col("symbol_ratio") <= 0.1)
      .withColumn("r_alpha",
        col("n_tokens") > 0 && col("alpha_frac") >= 0.8)
      .withColumn("r_stop", col("n_req_stop") >= minReqStopwords)
      .withColumn("keep",
        col("r_len") && col("r_mean") && col("r_symbol") &&
          col("r_alpha") && col("r_stop"))
      // keepText: a composing pipeline (q_llm_prep_e2e) that still needs
      // the text downstream keeps it here instead of re-joining this
      // projection back onto its own input — a self-join of the corpus
      // whose flag expressions the optimizer then re-walks in every
      // consumer arm (and AQE re-optimizes per stage; measured as
      // multi-second driver planning stalls at 25 stages/query)
      .drop((if (keepText) Seq.empty[String] else Seq(textCol)): _*)
  }

  /** Language-ID marker words (tiny n-gram/stopword heuristic). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "es" -> Seq("el", "la", "los", "las", "es", "y"),
    "fr" -> Seq("le", "les", "des", "est", "et", "du"),
  )

  /** Heuristic language ID: score = marker-word hits per language; CJK chars
    * short-circuit to zh; ties resolve in declaration order. Deterministic
    * integer scoring (SQL-expressible for the oracle).
    */
  def languageId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val scored = langMarkers.foldLeft(df) { case (d, (lang, markers)) =>
      d.withColumn(s"score_$lang",
        size(filter(toks, w => w.isInCollection(markers))).cast("long"))
    }
    val cjk = length(regexp_replace(col(textCol), "[^\\x{4e00}-\\x{9fff}]", ""))
    val scores = langMarkers.map { case (l, _) => col(s"score_$l") }
    val best = greatest(scores: _*)
    val pick = langMarkers.foldRight(lit("unknown"): Column) { case ((l, _), acc) =>
      when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    scored
      .withColumn("n_cjk", cjk.cast("long"))
      .withColumn("pred_lang", when(cjk > 0, lit("zh")).otherwise(pick))
  }

  /** Per-source quality prior — the URL/domain-level filtering stage of a
    * crawl pipeline: aggregate [[qualityScore]]'s per-doc `keep` verdict by
    * source and block sources whose keep-rate falls below `minKeepFrac`
    * (a domain that is mostly spam poisons even its passing pages). The
    * keep-rate is an integer count ratio (one IEEE division), so the table
    * is bit-identical on any engine.
    *
    * Scale shape: a single hash aggregate keyed by source with map-side
    * combine — the shuffle carries one row per (partition, source), and the
    * result is domain-table-sized. Joining `blocked` back onto the corpus is
    * a broadcast join for any real domain count.
    */
  def sourcePriors(df: DataFrame, minKeepFrac: Double = 0.5,
                   textCol: String = "text",
                   srcCol: String = "source"): DataFrame =
    qualityScore(df, textCol)
      .groupBy(col(srcCol))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("n_keep"))
      .withColumn("keep_frac", col("n_keep").cast("double") / col("n_docs"))
      .withColumn("blocked", col("keep_frac") < minKeepFrac)

  /** Document fingerprint: digest of the whitespace-normalized, lowercased
    * text — the cheap exact-dup key (reference-style content addressing).
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  /** GPT-2-style BPE-ish pre-tokenizer pattern: contractions, letter runs,
    * digit runs, punctuation runs (each optionally space-prefixed). The
    * shape real BPE tokenizers pre-split on; counting these approximates
    * token budgets far better than whitespace words.
    */
  val bpeishPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"

  /** BPE-ish token array (group 0 = whole match per alternative). */
  def bpeishTokens(text: Column): Column =
    call_function("regexp_extract_all", text, lit(bpeishPattern), lit(0))

  /** Per-doc token budget: whitespace words vs BPE-ish pre-tokens. */
  def tokenCounts(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("n_ws_tokens", size(tokens(col(textCol))).cast("long"))
      .withColumn("n_bpeish", size(bpeishTokens(col(textCol))).cast("long"))

  /** Gopher-style repetition signals — the standard "remove templated /
    * looping text before training" quality family, token-level (the fixture
    * corpus is single-line, so line-based variants degenerate):
    * `dup_word_frac` = fraction of repeated token occurrences,
    * `top_2gram_frac` / `top_3gram_frac` = share of all n-gram occurrences
    * taken by the single most frequent n-gram (NULL when the doc is shorter
    * than n tokens).
    *
    * Scale shape: the per-row signals are a narrow map; the top-n-gram
    * fractions explode n-grams to rows and run two hash aggregates keyed by
    * (doc, n, gram) then (doc) — shuffle carries (id, n, gram-hash-sized
    * strings), with map-side combine collapsing each partition's repeats.
    * The tokenized frame is staged once; both the explode and the final
    * join read the staged file.
    */
  def repetitionSignals(df: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    def grams(n: Int): Column =
      when(size(col("_toks")) >= n,
        transform(sequence(lit(1), size(col("_toks")) - (n - 1)),
          i => concat_ws(" ", slice(col("_toks"), i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    val base = graft.core.Scratch.stage(
      df.select(col(idCol), tokens(lower(col(textCol))).as("_toks"))
        .withColumn("n_tokens", size(col("_toks")).cast("long"))
        .withColumn("dup_word_frac",
          when(col("n_tokens") > 0,
            lit(1.0) - size(array_distinct(col("_toks"))).cast("double") /
              col("n_tokens").cast("double")).otherwise(0.0)),
      "repetition_base")
    val exploded = base.select(col(idCol),
        explode(concat(
          transform(grams(2), g => struct(lit(2).as("n"), g.as("g"))),
          transform(grams(3), g => struct(lit(3).as("n"), g.as("g"))))).as("t"))
      .select(col(idCol), col("t.n").as("n"), col("t.g").as("g"))
    val perGram = exploded.groupBy(col(idCol), col("n"), col("g"))
      .agg(count(lit(1)).as("c"))
    val perDoc = perGram.groupBy(col(idCol)).agg(
      (max(when(col("n") === 2, col("c"))).cast("double") /
        sum(when(col("n") === 2, col("c")).otherwise(0L))).as("top_2gram_frac"),
      (max(when(col("n") === 3, col("c"))).cast("double") /
        sum(when(col("n") === 3, col("c")).otherwise(0L))).as("top_3gram_frac"))
    base.select(col(idCol), col("n_tokens"), col("dup_word_frac"))
      .join(perDoc, Seq(idCol), "left")
  }

  /** Char-n-gram language-model familiarity — the CCNet-style "does this
    * text look like the corpus" quality signal, with the perplexity replaced
    * by two rationally-exact surrogates so the score is bit-identical on any
    * engine (a log-prob would differ in the last ulp across libm builds):
    *
    *   - `mean_gram_cf`: average corpus collection-frequency of the doc's
    *     char n-gram occurrences (high = ordinary text, low = gibberish /
    *     out-of-domain);
    *   - `rare_frac`: fraction of the doc's gram occurrences whose gram
    *     appears fewer than `minCf` times corpus-wide (the OOV rate).
    *
    * Both stay in `long` integer sums until one final IEEE division. Docs
    * shorter than `n` normalized chars have no grams → `n_grams = 0` and
    * NULL ratios (the [[textStats]] convention).
    *
    * Scale shape: gram occurrences collapse to one row per (doc, gram) with
    * map-side combine before any shuffle; the model aggregate over that
    * staged table is vocabulary-sized (≤ charset^n, not corpus-sized); the
    * model side of the join is small → AQE broadcasts it; the final per-doc
    * aggregate shuffles (doc, gram)-distinct rows only. The staged tf table
    * is written once and read by both the model build and the join, so text
    * is scanned exactly once.
    */
  def gramFamiliarity(df: DataFrame, n: Int = 3, minCf: Long = 5,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    // normalize in a SEPARATE projection: the transform lambda below
    // references `_norm` as an attribute, so the regexp runs once per doc.
    // Inlined, the regexp subtree would sit inside the lambda body and
    // re-run per element — O(len²) per doc (the bench showed 7× on this
    // query alone). CollapseProject keeps the split because the alias is
    // expensive and multiply-referenced.
    // rebalance ahead of the char-gram explode: a compact corpus file
    // otherwise runs every doc's O(len) gram generation on one task
    val normed = graft.core.Scratch.rebalance(df, heavy = true).select(col(idCol),
      regexp_replace(lower(col(textCol)), "\\s+", " ").as("_norm"))
    val nm = col("_norm")
    val grams = when(length(nm) >= n,
        transform(sequence(lit(1), length(nm) - (n - 1)),
          i => nm.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))
    val tf = graft.core.Scratch.stage(
      normed.select(col(idCol), explode(grams).as("gram"))
        .groupBy(col(idCol), col("gram"))
        .agg(count(lit(1)).cast("long").as("tf")),
      "gram_tf")
    val model = tf.groupBy("gram").agg(sum("tf").cast("long").as("cf"))
    val agg = tf.join(model, "gram")
      .groupBy(col(idCol))
      .agg(sum("tf").cast("long").as("n_grams"),
        sum(col("tf") * col("cf")).cast("long").as("sum_cf"),
        sum(when(col("cf") < minCf, col("tf")).otherwise(0L))
          .cast("long").as("n_rare"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        when(col("n_grams") > 0,
          col("sum_cf").cast("double") / col("n_grams")).as("mean_gram_cf"),
        when(col("n_grams") > 0,
          col("n_rare").cast("double") / col("n_grams")).as("rare_frac"))
  }

  /** Per-(doc, token) term frequencies — the staging table [[vocabulary]]
    * and [[keywords]] both reduce; materialize it once per corpus when
    * running several token-level analyses. Map-side combine collapses each
    * doc's repeats before the (token, doc) shuffle, so the exchange carries
    * one row per distinct (doc, token), never one per occurrence.
    */
  def termFrequencies(df: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).cast("long").as("tf"))

  /** Corpus vocabulary: one row per distinct token with collection
    * frequency (total occurrences) and document frequency — the frequency
    * table tokenizer training starts from. Second-stage aggregate over
    * [[termFrequencies]]: input is already one row per (doc, token), so
    * the token-keyed shuffle is vocabulary-sized, not corpus-sized.
    */
  def vocabulary(df: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame =
    termFrequencies(df, textCol, idCol)
      .groupBy("token")
      .agg(sum("tf").cast("long").as("cf"), count(lit(1)).cast("long").as("df"))

  /** Blocklist term filter — the safety/quality gate that drops documents
    * containing too many blocklisted terms (slurs, spam markers, boilerplate
    * phrases). Counts lowercased whole-token OCCURRENCES against the list
    * and flags docs whose count exceeds `maxHits` (0 = zero-tolerance).
    * The list rides the plan as a literal set (`isInCollection` compiles to
    * a hash-set probe in codegen) — the right shape for the usual 10²–10⁵
    * term lists; counts are integers, so the verdict is engine-exact.
    */
  def blocklistFilter(df: DataFrame, terms: Seq[String], maxHits: Long = 0,
                      textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "blocklistFilter needs at least one term")
    val lowered = terms.map(_.toLowerCase)
    df.withColumn("n_blocked",
        size(filter(tokens(lower(col(textCol))),
          t => t.isInCollection(lowered))).cast("long"))
      .withColumn("blocked", col("n_blocked") > maxHits)
  }

  /** Occurrence-weighted adjacent-character pair counts over the corpus
    * [[vocabulary]] — the counting step a BPE tokenizer trainer iterates
    * (count pairs → merge the most frequent → recount). The iterated
    * trainer is a driver loop over this table; the table itself is
    * vocabulary-sized, so each recount is a narrow map + small aggregate,
    * never a corpus scan. Single-char tokens contribute no pairs.
    */
  def bpePairCounts(df: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val tok = col("token")
    val pairs = when(length(tok) >= 2,
        transform(sequence(lit(1), length(tok) - 1),
          i => struct(tok.substr(i, lit(1)).as("lhs"),
            tok.substr(i + 1, lit(1)).as("rhs"))))
      .otherwise(array().cast("array<struct<lhs:string,rhs:string>>"))
    vocabulary(df, textCol, idCol)
      .select(col("cf"), explode(pairs).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum("cf").cast("long").as("pair_count"))
  }

  /** ONE trainer round, oracle-gated: pick the top pair exactly like
    * [[trainBpeMerges]]'s first iteration (pair_count DESC, lhs, rhs —
    * deterministic ties) and apply the left-to-right non-overlapping merge
    * to every vocabulary token, emitting the exploded post-merge symbol
    * sequences as scalar (token, cf, pos, symbol) rows. Round 1 is the
    * SQL-expressible round — every symbol is still a single character, so
    * the merge equals a plain string replace — which lets the rewrite step
    * the trainer iterates get a DuckDB oracle row (the loop itself stays
    * spec-gated; later rounds only grow the symbol alphabet, not the
    * rewrite logic).
    */
  def bpeTrainOneRound(df: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val vocab = vocabulary(df, textCol, idCol)
      .select(col("token"), col("cf"),
        filter(split(col("token"), ""), c => c =!= "").as("symbols"))
    val top = bpePairCounts(df, textCol, idCol)
      .orderBy(col("pair_count").desc, col("lhs"), col("rhs")).limit(1)
      .select(col("lhs"), col("rhs"))
    // same fold as trainBpeMerges.merged, with the pair riding the joined
    // one-row broadcast instead of a driver literal
    val mergedSyms = aggregate(col("symbols"),
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) === 0, array(x))
          .when(element_at(acc, -1) === col("lhs") && x === col("rhs"),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(concat(col("lhs"), col("rhs")))))
          .otherwise(concat(acc, array(x))))
    vocab.crossJoin(broadcast(top))
      .select(col("token"), col("cf"),
        posexplode(mergedSyms).as(Seq("pos", "symbol")))
      .select(col("token"), col("cf"), col("pos").cast("long").as("pos"),
        col("symbol"))
  }

  /** BPE ENCODE: apply an ORDERED merge table to a token column — the
    * tokenizer's inference half. Each token rides as a symbol string whose
    * boundaries (both ends included) are DOUBLED chr(1) delimiters, and
    * every merge is one non-regex `replace` pass. The doubling is what
    * makes a single left-to-right replace equal the trainer's greedy fold:
    * the pattern `d a d d b d` consumes ONE delimiter from each side of
    * the pair, leaving the other available to an immediately adjacent
    * occurrence — so back-to-back matches ("banana" with (a,n), "aaaa"
    * with (a,a)) merge exactly like [[trainBpeMerges]]'s fold instead of
    * being skipped at the shared boundary. No merged symbol can re-match
    * its own pattern (a+b is a different whole symbol than a or b), so one
    * pass per merge IS the fixpoint. Chained codegen'd string ops: no
    * per-token loop, no UDF, and the DuckDB oracle replays it exactly.
    *
    * The expression chain grows with the merge table, so this shape suits
    * demo/analysis vocabularies (≤ ~1000 merges); the production 32k-merge
    * encoder is the BpeEncode kernel expression — one codegen node
    * carrying the table, same fold semantics.
    */
  def bpeApplyMerges(tokens: DataFrame, merges: Seq[(String, String)],
                     tokenCol: String = "token"): DataFrame = {
    val d = ""
    require(merges.size <= 1000,
      s"expression-chain encoder caps at 1000 merges, got ${merges.size}")
    require(merges.forall { case (a, b) =>
      a.nonEmpty && b.nonEmpty && !(a + b).contains(d) },
      "merge symbols must be non-empty and delimiter-free")
    val s0 = concat(regexp_replace(col(tokenCol), "(.)", d + d + "$1"),
      lit(d + d))
    val sN = merges.foldLeft(s0) { case (s, (a, b)) =>
      call_function("replace", s,
        lit(d + a + d + d + b + d), lit(d + a + b + d))
    }
    tokens.withColumn("pieces", filter(split(sN, d), p => p =!= ""))
  }

  /** BPE ENCODE, production shape: the ordered merge table rides ONE
    * codegen kernel node ([[graft.functions.BpeEncodeExpr]]) instead of one
    * chained `replace` per merge — the plan is the same size at 32k merges
    * as at 3. Symbol-for-symbol identical to [[bpeApplyMerges]] (both
    * implement the trainer's left-to-right fold per merge in rank order);
    * use the chained variant only where the DuckDB oracle must replay the
    * exact SQL.
    */
  def bpeEncode(tokens: DataFrame, merges: Seq[(String, String)],
                tokenCol: String = "token"): DataFrame = {
    require(merges.forall { case (a, b) => a.nonEmpty && b.nonEmpty },
      "merge symbols must be non-empty")
    tokens.withColumn("pieces",
      graft.functions.BpeEncode(col(tokenCol), merges))
  }

  /** Distributed BPE training — the iterated loop [[bpePairCounts]] counts
    * for: start from the character-split corpus [[vocabulary]], and
    * `nMerges` times (count adjacent symbol pairs weighted by collection
    * frequency → merge the most frequent pair corpus-wide → recount).
    * The winning pair is (count DESC, lhs, rhs) — deterministic ties — and
    * merging is the standard left-to-right non-overlapping fold.
    *
    * Scale shape: the corpus is scanned ONCE (the vocabulary build); every
    * iteration after that is a vocabulary-sized job (explode pairs → one
    * small aggregate → driver-collect exactly ONE row) plus a narrow
    * symbol-rewrite map, with lineage truncated per round so 10³ merges
    * don't stack 10³ plan nodes. The driver never holds the vocabulary —
    * only the current top pair.
    *
    * Not SQL-expressible as one query (iterative) — spec-gated, not
    * oracle-gated. Emits the ordered merge table (merge_rank, lhs, rhs,
    * merged, pair_count); a tokenizer applies these ranks at encode time.
    */
  def trainBpeMerges(df: DataFrame, nMerges: Int,
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    val sess = df.sparkSession
    import sess.implicits._
    val pairsOf = (symbols: Column) =>
      when(size(symbols) >= 2,
        transform(sequence(lit(1), size(symbols) - 1),
          i => struct(element_at(symbols, i).as("lhs"),
            element_at(symbols, i + 1).as("rhs"))))
        .otherwise(array().cast("array<struct<lhs:string,rhs:string>>"))
    // left-to-right non-overlapping merge of (a, b) within a symbol array;
    // CaseWhen arms evaluate lazily, so element_at never sees an empty acc
    def merged(symbols: Column, a: String, b: String): Column =
      aggregate(symbols, array().cast("array<string>"),
        (acc, x) =>
          when(size(acc) === 0, array(x))
            .when(element_at(acc, -1) === lit(a) && x === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(x))))

    var vocab = vocabulary(df, textCol, idCol)
      .select(col("cf"),
        filter(split(col("token"), ""), c => c =!= "").as("symbols"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var rank = 0L
    var done = false
    while (rank < nMerges && !done) {
      val top = vocab
        .select(col("cf"), explode(pairsOf(col("symbols"))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("cf").cast("long").as("pair_count"))
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getAs[Long]("pair_count") < 2) done = true
      else {
        val (a, b) = (top(0).getAs[String]("lhs"), top(0).getAs[String]("rhs"))
        out += ((rank, a, b, a + b, top(0).getAs[Long]("pair_count")))
        val next = vocab
          .select(col("cf"), merged(col("symbols"), a, b).as("symbols"))
          .localCheckpoint(true)
        releaseCheckpoint(vocab)
        vocab = next
        rank += 1
      }
    }
    releaseCheckpoint(vocab)
    out.toSeq.toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** Drop the persisted blocks behind a `localCheckpoint`ed frame. An
    * eager local checkpoint stays persisted until released, so a training
    * loop that checkpoints every round would otherwise keep every round's
    * vocabulary cached; the next round is already materialized (eager)
    * with its lineage cut, so it no longer needs them.
    */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false): Unit
      case _ => ()
    }

  /** Per-doc distinctive keywords: top-`k` tokens by tf/df — the rational
    * tf-idf surrogate (monotone in tf and in 1/df). The score is a single
    * IEEE division, so ranking is bit-identical on any engine (a log-based
    * idf would rank identically but hash-differ in the last ulp across
    * libm implementations). Ties break on token; (score, token) totally
    * orders each doc's rows, so top-k is deterministic.
    */
  def keywords(df: DataFrame, k: Int = 3, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = termFrequencies(df, textCol, idCol)
    val voc = tf.groupBy("token").agg(count(lit(1)).cast("long").as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token"))
    tf.join(voc, "token")
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"), col("score"),
        col("rk"))
  }

  /** EXACT per-source token-length quantiles — the data-driven cut points a
    * length filter should use instead of global magic numbers (a code
    * source's p10 is a news source's p90). Quantile q = the value at row
    * `ceil(q·n)` of the source's docs in ascending (n_tokens, id) order —
    * the discrete lower-quantile definition both engines express with one
    * window, so the report hash-matches (approx sketches are neither exact
    * nor engine-portable).
    *
    * Scale shape: one source-keyed window over narrow (source, id,
    * n_tokens) rows, then a source-sized aggregate. Exact per-key quantiles
    * inherently sort each source's rows; at 24 bytes/row a 10⁹-doc source
    * is ~24 GB spread over its range partitions — acceptable where an
    * exact, reproducible report is the point.
    *
    * Emits one row per source: (srcCol, n_docs, p<q1>, p<q2>, ...).
    */
  def lengthQuantiles(df: DataFrame,
                      quantiles: Seq[Double] = Seq(0.1, 0.5, 0.9),
                      srcCol: String = "source", textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(quantiles.nonEmpty && quantiles.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0, 1], got $quantiles")
    // labels round to integer percents; two quantiles landing on the same
    // label (0.1 and 0.104 → p10) would emit duplicate column names and
    // break downstream resolution — fail loudly instead
    require(quantiles.map(q => math.round(q * 100)).distinct.size == quantiles.size,
      s"quantile labels p<round(q*100)> must be distinct, got $quantiles")
    val counted = df.select(col(srcCol), col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col(srcCol))
      .orderBy(col("n_tokens"), col(idCol))
    val ranked = counted
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n_docs",
        count(lit(1)).over(Window.partitionBy(col(srcCol))).cast("long"))
    val qCols = quantiles.map { q =>
      max(when(col("rn") === ceil(lit(q) * col("n_docs")).cast("long"),
        col("n_tokens"))).as(s"p${math.round(q * 100)}")
    }
    ranked.groupBy(col(srcCol))
      .agg(max(col("n_docs")).as("n_docs"), qCols: _*)
  }
}
