package graft.queries

import graft.{SparkEntry, SparkSuite}

/** The query registry: ids are unique and pinned, every query carries an
  * oracle, and a replayed stream leaves the caller's session as it was. */
class RegistrySpec extends SparkSuite {

  private val pinned = Seq(
      "m01_media_meta", "m02_frame_sample", "m03_image_meta", "m04_audio_meta",
      "m05_video_meta", "m06_image_resize", "p01_dedup_exact", "p02_fingerprint",
      "p03_token_counts", "p04_quality", "p05_langid", "p06_ngram_jaccard", "p07_minhash_sigs",
      "p08_minhash_candidates", "p09_simhash", "p10_dedup_groups", "p11_split_stats",
      "p12_contamination", "p13_pii_redaction", "p14_token_budget", "p15_repetition",
      "p16_quality_gates", "p17_char_entropy", "p18_vocab_topk", "p19_simhash_neardup",
      "p20_stratified_sample", "p21_vocab_apply", "p22_block_dedup", "p23_seq_packing",
      "p24_bigram_nll", "p25_drop_repeated_blocks", "p26_temperature_mixture",
      "p27_domain_filter", "p28_dedup_keepers", "p29_token_minhash", "p30_token_block_dedup",
      "p31_token_simhash", "p32_vocab_packing", "p33_token_jaccard", "p34_url_dedup",
      "p35_block_dedup_apply", "p36_bpe_merges", "p37_bpe_segment", "p38_substring_dedup",
      "p39_fuzzy_decontamination", "p40_nb_classifier", "p41_tfidf_keywords",
      "p42_dsir_weights", "p43_textrank", "p44_zipf_fit", "p45_incremental_dedup",
      "p46_classifier_pr", "q01_pricing_summary", "q02_filter_topn", "q03_revenue_by_nation",
      "q04_window_latest_order", "q05_customers_no_recent_orders",
      "q06_orders_with_max_qty_item", "q07_setop_parts", "q08_rollup_orders",
      "q09_nation_customer_stats", "q10_events_hourly", "q11_sessionize", "q12_cube_orders",
      "q13_asof_join", "q14_range_join", "s01_ann_bruteforce", "s02_ann_lsh",
      "s03_embedding_neardup", "s04_ann_ivf", "s05_embedding_quantize", "s06_ann_sq8",
      "s07_neardup_groups", "s08_semantic_dedup", "s09_ann_pq", "s10_ann_ivfpq",
      "st01_stream_window_batch", "st02_stream_drift", "st03_stream_verdicts",
      "st04_stream_histogram", "st05_stream_violation_samples", "st06_stream_quantile_digest",
      "st07_stream_refjoin", "st08_stream_interval_join", "st09_stream_sessionize",
      "v01_rule_counts_lineitem", "v02_violation_rows_orders", "v03_unique_dup_keys",
      "v04_referential_missing", "v05_referential_salted", "v06_profile_lineitem",
      "v07_drift_hist_quantity", "v08_drift_psi_quantity", "v09_format_battery",
      "v10_discriminator", "v11_nested_json", "v12_coerce_numbers", "v13_drift_kl",
      "v14_map_rules", "v15_drift_js", "v16_combinators", "v17_map_closed_world",
      "v18_format_battery2", "v19_array_battery", "v20_numeric_battery", "v21_tuple_items",
      "v22_map_dependencies", "v23_pattern_props", "v24_percentiles", "v25_uri_battery",
      "v26_verdict_by_source", "v27_rulepack_e2e", "v28_skew_report", "v29_rulepack_yaml",
      "v30_rulepack_bundle", "v31_coerce_defaults", "v32_joi_pack", "v33_pack_inference",
      "v34_violation_samples", "v35_string_battery", "v36_dependencies_draft4",
      "v37_combinator_battery", "v38_coerce_battery", "v39_anchor_refs", "v40_recursive_tree",
      "v41_custom_format", "v42_modality", "v43_type_union_bool_schema", "v44_approx_distinct",
      "v45_tdigest_quantiles", "v46_param_styles", "v47_drift_sketched", "v48_route_match",
      "v49_route_request_validate", "v50_delta_validate", "v51_profile_diff")

  test("a repeated query name is rejected") {
    val q = Query("q_dup", "SELECT 1", floor = false)(t => t.spark.range(1).toDF())
    val e = intercept[IllegalArgumentException](Registry.index(Seq(q, q)))
    assert(e.getMessage.contains("q_dup"))
  }

  test("the 136 query ids are the pinned list") {
    assert(pinned.size === 136)
    assert(Registry.all.map(_.name).sorted === pinned)
    assert(SparkEntry.queries.keySet === pinned.toSet)
    assert(SparkEntry.oracleSql.keySet === pinned.toSet)
  }

  test("every query has a non-blank oracle") {
    assert(Registry.all.filter(_.oracle.trim.isEmpty).map(_.name) === Nil)
  }

  test("a streaming query leaves the caller's shuffle width and catalog unchanged") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try {
      assert(SparkEntry.queries("st03_stream_verdicts")(spark, "/root/testdata/sf0.001").count() > 0)
      assert(spark.conf.get(key) === "3")
      assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("st03_sink")))
    } finally spark.conf.set(key, prev)
  }
}
