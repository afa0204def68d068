package graft

import graft.queries.QuerySpec

/** The correctness-gate contract: every registered query carries oracle
  * SQL, every name is registered once, and every name a tool uses by
  * default resolves.
  */
class RegistrySpec extends org.scalatest.funsuite.AnyFunSuite {

  /** Every registered name, family by family: a query that silently drops
    * out of the registry (or a new one that skips this list) fails by name.
    */
  private val Registered: Set[String] = Set(
    // SeismicCoreQueries (26)
    "q_dims", "q_dim_summary", "q_grid_map", "q_grid_unique", "q_sparsity",
    "q_dup", "q_nonbin", "q_synth", "q_chanwrap_detect", "q_chanwrap",
    "q_shotidx", "q_shotidx_floor", "q_stats", "q_histogram",
    "q_stats_hist", "q_salted_agg", "q_geom", "q_geom_guns", "q_coord",
    "q_mask_bbox", "q_mask_rows", "q_select", "q_isel", "q_proj",
    "q_export_order", "q_coord_checked",
    // TraceKernelQueries (14)
    "q_trace_agc", "q_trace_shift", "q_moveout_scan", "q_trace_stack",
    "q_trace_agc_long", "q_trace_fir_long", "q_trace_stack_long",
    "q_trace_shift_long", "q_moveout_scan_long", "q_moveout_semblance",
    "q_moveout_semblance_long", "q_moveout_panel", "q_moveout_panel_long",
    "q_ibm_decode",
    // SegyIoQueries (16)
    "q_file_info", "q_bin_header", "q_segy_roundtrip",
    "q_segy_std_roundtrip", "q_segy_dir_ingest", "q_segy_dir_roundtrip",
    "q_segy_fmt5_roundtrip", "q_masked_export", "q_segy_dsv2_roundtrip",
    "q_segy_fmt3_roundtrip", "q_segy_fmt6_roundtrip",
    "q_segy_fmt28_roundtrip", "q_ingest_e2e", "q_segy_file_ingest",
    "q_dims_distributed", "q_raw_headers",
    // StoreQueries (8)
    "q_store_copy", "q_store_roundtrip", "q_store_v2", "q_store_compact",
    "q_access_fast", "q_zorder", "q_quantize", "q_quantize_packed",
    // EventJoinQueries (20)
    "q_events_hourly", "q_props_stats", "q_exact_quantiles",
    "q_exact_quantiles_refine", "q_sessionize", "q_funnel",
    "q_funnel_latency", "q_retention", "q_events_sliding", "q_rollup",
    "q_pivot", "q_asof_fwd", "q_price_histogram", "q_asof_tol",
    "q_range_join", "q_asof_join", "q_session_stats", "q_salted_join",
    "q_salted_join_skew", "q_bucketed_join",
    // StreamingQueries (12)
    "q_stream_hourly", "q_stream_sessions", "q_stream_sessions_bounded",
    "q_stream_state_sessions", "q_stream_store", "q_stream_dedup",
    "q_stream_quality", "q_stream_dedup_wm", "q_stream_neardup",
    "q_stream_bm25", "q_stream_join", "q_stream_neardup_index",
    // SketchQueries (4)
    "q_hll_distinct", "q_hll_grouped", "q_cms_terms", "q_topk_group",
    // LlmCorpusQueries (60)
    "q_dedup_exact", "q_dedup_survivors", "q_dedup_best", "q_neardup_lsh",
    "q_neardup_lsh_skew", "q_neardup_index", "q_dup_ngram_spans",
    "q_dup_token_frac", "q_para_dedup", "q_line_filter",
    "q_jaccard_blocked", "q_simhash", "q_neardup_simhash", "q_text_stats",
    "q_lang_id", "q_gopher_rules", "q_llm_prep_e2e", "q_quality",
    "q_fingerprint", "q_token_count", "q_vocab", "q_keywords",
    "q_length_quantiles", "q_bm25", "q_bm25_compact", "q_hybrid_rrf",
    "q_bpe_pairs", "q_bpe_train1", "q_bpe_train_loop", "q_bpe_encode",
    "q_pii_redact", "q_repetition", "q_blocklist", "q_neardup_recall",
    "q_winnow_pairs", "q_editdist_pairs", "q_editdist_dedup",
    "q_editdist_link", "q_gram_lm", "q_source_prior", "q_pack_sequences",
    "q_shuffle_shards", "q_length_batches", "q_chunk_docs", "q_cap_group",
    "q_boilerplate", "q_contamination", "q_contamination_bloom",
    "q_dedup_components", "q_dedup_components_best", "q_sample_stratified",
    "q_mixture_sample", "q_corpus_diff", "q_corpus_prep",
    "q_multimodal_meta", "q_multimodal_features", "q_multimodal_wav",
    "q_multimodal_ppm", "q_multimodal_bmp", "q_multimodal_png"
  )

  test("queries and oracleSql cover exactly the same names") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracle entries without a query: ${o -- q}")
    assert((q -- o).isEmpty, s"queries without oracle SQL: ${q -- o}")
    assert((Registered -- q).isEmpty, s"dropped from the registry: ${Registered -- q}")
    assert((q -- Registered).isEmpty, s"registered but not pinned here: ${q -- Registered}")
    assert(Registered.size == 160 && SparkEntry.all.size == 160)
  }

  test("the registry index refuses a repeated name, naming it") {
    val a = SparkEntry.spec("q_stats")
    val b = SparkEntry.spec("q_dims")
    assert(QuerySpec.index(Seq(a, b)).keySet == Set("q_stats", "q_dims"))
    val e = intercept[QuerySpec.DuplicateQueryError](
      QuerySpec.index(Seq(a, b, a.copy(oracleSql = "SELECT 1"))))
    assert(e.name == "q_stats")
    assert(e.getMessage.contains("q_stats"))
  }

  test("spec fails loudly on an unknown name, naming it") {
    val e = intercept[SparkEntry.UnknownQueryError](SparkEntry.spec("q_no_such"))
    assert(e.name == "q_no_such")
    assert(e.getMessage.contains("q_no_such"))
  }

  test("Bench's built-in warm-up and control names all resolve") {
    (Bench.WarmupQueries ++ Bench.DefaultControls).foreach(n =>
      assert(SparkEntry.spec(n).name == n))
    graft.tools.Scale.DefaultSet.foreach(n =>
      assert(SparkEntry.spec(n).name == n))
  }

  test("query names are well-formed and oracle SQL non-empty") {
    SparkEntry.queries.keys.foreach(n =>
      assert(n.matches("q_[a-z0-9_]+"), s"odd query name: $n"))
    SparkEntry.oracleSql.foreach { case (n, sql) =>
      assert(sql.trim.nonEmpty, s"empty oracle SQL for $n")
    }
  }
}
