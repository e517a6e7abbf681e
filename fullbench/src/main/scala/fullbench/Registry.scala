package fullbench

/** The registry split into the two query workloads, grouped by the module
  * of each query's operator. Every name of `graft.SparkEntry.queries` is in
  * exactly one group; `RegistryCoverageSpec` fails when a query is added,
  * removed or listed twice.
  */
object Registry {
  /** Short plans: Relational, Subqueries, Grouping, Windows, Events, Stats,
    * Sketches, Skew, Layout, Typed, ChunkedFetcher and ChunkedSource, plus the
    * two top-k-per-group queries.
    */
  val analytics: Map[String, Seq[String]] = Map(
    "ChunkedFetcher" -> Seq("q_chunked_fetch", "q_chunked_fetch_partitioned"),
    "ChunkedSource" -> Seq("q_chunked_source"),
    "Events" -> Seq("q_asof_generic", "q_asof_nearest", "q_asof_range", "q_attribution",
      "q_bursts", "q_cadence", "q_embed_outliers", "q_event_paths", "q_event_transitions",
      "q_events_asof", "q_events_cohort", "q_events_funnel", "q_events_sessions",
      "q_events_sessions_lag", "q_events_sliding", "q_events_tumbling", "q_events_zscore",
      "q_funnel_windowed", "q_overlap_sessions"),
    "Grouping" -> Seq("q_approx_distinct", "q_approx_percentiles", "q_count_distinct", "q_cube",
      "q_except", "q_grouping_sets", "q_histogram", "q_intersect", "q_percentiles", "q_pivot",
      "q_rollup", "q_union_counts"),
    "Layout" -> Seq("q_zorder"),
    "Relational" -> Seq("q_dispersion", "q_distinct", "q_groupby_count", "q_join_anti",
      "q_join_cross", "q_join_full", "q_join_inner", "q_join_left", "q_join_range",
      "q_join_right", "q_join_semi", "q_join_star", "q_late_lines", "q_local_volume",
      "q_market_share", "q_nation_profit", "q_pricing_summary", "q_promo_effect",
      "q_range_join_binned", "q_returned_items", "q_rfm", "q_scalar_funcs", "q_scalar_sum",
      "q_scan_filter", "q_shipping_priority", "q_volume_shipping"),
    "Sketches" -> Seq("q_cms_rollup", "q_hll_rollup"),
    "Skew" -> Seq("q_join_salted", "q_salted_distinct"),
    "Stats" -> Seq("q_ab_lift", "q_abc", "q_acf", "q_benford", "q_changepoint", "q_chi2",
      "q_corr_matrix", "q_dow_profile", "q_gini", "q_growth", "q_holt_forecast", "q_iqr_outliers",
      "q_kruskal", "q_ks_by", "q_ks_test", "q_mad_outliers", "q_mannwhitney", "q_mannwhitney_by",
      "q_pareto", "q_psi_drift", "q_quantile_norm", "q_skew_audit", "q_spearman", "q_theil",
      "q_winsorized"),
    "Subqueries" -> Seq("q_big_orders", "q_disjunctive_join", "q_excess_shippers",
      "q_forecast_revenue", "q_idle_customers", "q_important_parts", "q_min_cost_supplier",
      "q_order_count_dist", "q_priority_exists", "q_small_qty_revenue", "q_sole_blame",
      "q_supplier_counts", "q_top_supplier"),
    "TopKPerGroup" -> Seq("q_topk_group", "q_topk_group_auto"),
    "Typed" -> Seq("q_cogroup_rollup"),
    "Windows" -> Seq("q_price_buckets", "q_sort_within", "q_topk", "q_window_firstlast",
      "q_window_lag", "q_window_ntile", "q_window_pctrank", "q_window_range", "q_window_rank",
      "q_window_running", "q_window_smooth")
  )

  /** Text, BPE, dedup, similarity/ANN, search, multimodal, graph, affinity
    * and curation queries.
    */
  val pipeline: Map[String, Seq[String]] = Map(
    "Affinity" -> Seq("q_assoc_rules", "q_item_neighbors"),
    "Bpe" -> Seq("q_bpe_encode", "q_bpe_merges", "q_tokenizer_audit"),
    "Dedup" -> Seq("q_contamination_by_source", "q_decontaminate", "q_decontaminate_bloom",
      "q_decontaminate_fuzzy", "q_dedup_exact", "q_dedup_hash", "q_dedup_incremental",
      "q_dedup_keeplist", "q_dedup_lines", "q_dedup_paragraphs", "q_dup_clusters", "q_dup_rate",
      "q_fuzzy_pairs", "q_jaccard_pairs", "q_minhash_pairs", "q_simhash", "q_simhash_pairs",
      "q_split_safe", "q_tfidf_pairs"),
    "Graph" -> Seq("q_anf", "q_assortativity", "q_betweenness", "q_closeness", "q_communities",
      "q_component_sizes", "q_components", "q_embeddedness", "q_hits", "q_hop_distance",
      "q_kcore", "q_louvain", "q_louvain_multilevel", "q_modularity", "q_pagerank",
      "q_pagerank_seeded", "q_pagerank_trade", "q_powerlaw", "q_reciprocity", "q_shortest_paths",
      "q_tri_profile", "q_triangles"),
    "Multimodal" -> Seq("q_audio_features", "q_audio_neardup", "q_image_neardup",
      "q_media_features", "q_payload_digest", "q_video_features", "q_video_neardup"),
    "Pipelines" -> Seq("q_curation", "q_curation_gopher", "q_curation_lsh"),
    "Search" -> Seq("q_bm25", "q_hybrid_rrf", "q_ndcg"),
    "Similarity" -> Seq("q_ann_recall", "q_ann_topk", "q_cosine_pairs", "q_cosine_pairs_lsh",
      "q_cosine_topk", "q_dbscan", "q_decontaminate_semantic", "q_embed_norms", "q_hamming_topk",
      "q_hnsw_topk", "q_ivf_topk", "q_kmeans_prototypes", "q_knn_graph", "q_knn_graph_lsh",
      "q_label_centroids", "q_label_cohesion", "q_lsh_fidelity", "q_pq_topk", "q_quantize_int8",
      "q_semantic_keeplist", "q_semantic_keeplist_lsh"),
    "Text" -> Seq("q_budget_select", "q_c4_clean", "q_calibration", "q_chunk_docs",
      "q_collocations", "q_compress_ratio", "q_compress_report", "q_corpus_mix",
      "q_dedup_lines_within", "q_dup_passages", "q_fingerprints", "q_gopher_rules",
      "q_heavy_hitters", "q_js_divergence", "q_json_extract", "q_kept_rate", "q_keyterms",
      "q_lang_id", "q_langid_eval", "q_ngram_novelty", "q_normalize_text", "q_nucleus_select",
      "q_pack_sequences", "q_pattern_counts", "q_priority_estimates", "q_priority_sample",
      "q_quality", "q_quality_classifier", "q_quality_fit", "q_readability", "q_redact",
      "q_repetition", "q_repetition_gopher", "q_snapshot_diff", "q_source_caps",
      "q_source_concentration", "q_source_sample", "q_source_stats", "q_substring_runs",
      "q_surprisal", "q_surprisal_bigram", "q_temperature_mix", "q_text_stats", "q_token_counts",
      "q_top_ngrams", "q_top_tokens_per_source", "q_train_split", "q_winnowing")
  )

  /** The one registered query whose build installs the `graft.plans` rules
    * on its session. It belongs to `analytics`; the `pipeline` workload runs
    * it as well, so that the plans layer is measured on a workload that runs
    * every time the benchmark does.
    */
  val plansQuery = "q_topk_group_auto"

  /** The queries one pass runs: the middle query by name of every module, so
    * each operator module is measured while a pass stays short enough for
    * several passes per run.
    */
  def sample(byModule: Map[String, Seq[String]]): Seq[String] =
    byModule.toSeq.sortBy(_._1).map { case (_, qs) => qs.sorted.apply(qs.size / 2) }
}
