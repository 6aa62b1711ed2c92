package graft

import org.scalatest.funsuite.AnyFunSuite

/** Replays RECORDED bench probe series through the contention flag. The
  * recorded r8 run is the one where the run-level `contended` flag
  * false-negatived: it inflated identical-code queries 8-35x (q73
  * 0.49->8.11 s wall; q121 1.44->10.81 s) under a PARTIAL load burst — 10
  * of 148 probes elevated, clustered exactly at the inflated queries,
  * which beat both the p90/p10 probe ratio (1.106 < 1.5) and the later-rep
  * spread check (0.114 < 0.25). The paired quiet run (commit 9eb29ff, same
  * code) and two round-10 quiet runs with GC blips prove the per-query
  * detection doesn't cry wolf.
  */
class BenchReplaySpec extends AnyFunSuite {

  // 147 query names in bench order (sorted), from BENCH_r08 bench_detail.json
  private val r8Names: Seq[String] = Seq("q01_pricing_summary","q02_filter_revenue","q03_top_orders","q04_order_priority","q05_region_revenue","q06_window_topk","q07_anti_join","q08_rollup","q09_distinct_stats","q100_embedding_drift","q101_containment","q102_packed_export","q103_bm25_retrieval","q104_growth_curve","q105_containment_lsh","q106_dedup_index","q106b_index_build","q106p_index_probe","q107_dedup_survivors","q108_boiler_strip","q109_survivors_quality","q10_pivot","q110_hashed_classifier","q111_ann_recall","q112_index_absorb","q112a_index_absorb","q113_near_contamination","q114_cluster_quality","q115_shard_drift","q116_span_ownership","q117_weighted_sample","q118_ngram_exposure","q119_semdedup","q11_set_ops","q120_cdc_chunks","q121_dsir_selection","q122_winnowing","q123_pca_covariance","q124_bucketed_join","q124b_layout_build","q124p_bucketed_probe","q125_rollup_maintenance","q126_skew_diagnosis","q127_k_anonymity","q128_journey_paths","q129_token_budget","q12_scalar_subquery","q130_split_leakage","q131_source_divergence","q132_curriculum_order","q133_deletion_audit","q134_triangle_count","q135_mi_features","q136_rank_fusion","q137_triangle_delta","q138_edge_similarity","q139_kcore","q13_cube","q140_retrieval_eval","q141_cluster_purity","q142_assortativity","q14_approx_distinct","q15_window_funcs","q16_unpivot","q17_salted_agg","q18_argmax","q19_or_of_ands","q20_epoch_normalize","q21_split_explode","q22_json_extract","q23_iso_validate","q24_grouping_sets","q25_window_tumbling","q26_window_session","q27_window_sliding","q28_asof_join","q29_typed_agg_mask","q30_dedup_exact","q31_dedup_canonical","q32_dedup_jaccard","q33_dedup_minhash_lsh","q34_simhash_fingerprint","q35_simhash_pairs","q36_rolling_fingerprint","q37_dedup_embedding","q38_dedup_clusters","q39_dedup_embedding_lsh","q40_text_stats","q41_lang_id","q42_quality","q43_token_count","q44_tfidf_top_terms","q45_stratified_sample","q46_sequence_packing","q47_repetition_score","q48_bigram_topk","q49_length_quantile","q50_binary_meta","q51_decode_stats","q52_media_features","q53_frame_sample","q54_contamination","q55_training_order","q56_shard_assign","q57_doc_chunking","q58_incremental_dedup","q59_lm_score","q60_knn_brute","q61_lsh_pairs","q62_ivf_knn","q63_min_cost_offer","q64_important_suppliers","q65_range_join","q66_moving_avg","q67_heavy_hitters","q68_clean_funnel","q69_source_mixing","q70_kmeans","q71_span_dedup","q72_gopher_rules","q73_pii_scrub","q74_url_canonical","q75_length_digest","q76_embedding_clusters","q77_pagerank","q78_salted_join","q79_int8_quant","q80_snapshot_diff","q81_sketch_rollup","q82_transitions","q83_upsert_merge","q84_asof_native","q85_bpe_pairs","q86_domain_cap","q87_zorder_layout","q88_global_ntile","q89_bloom_join","q90_source_overlap","q91_scd2_intervals","q92_event_funnel","q93_boilerplate","q94_mix_allocation","q95_cohort_retention","q96_rate_anomaly","q97_pmi_pairs","q98_data_profile","q99_fk_integrity")
  // the r8 DRIVER run probe walls (the contaminated run the flag missed)
  private val r8Probes: Seq[Double] = Seq(0.085,0.086,0.09,0.086,0.086,0.082,0.081,0.081,0.082,0.081,0.08,0.083,0.081,0.084,0.081,0.081,0.081,0.08,0.081,0.081,0.08,0.081,0.291,0.178,0.086,0.083,0.094,0.085,0.085,0.084,0.08,0.081,0.082,0.152,0.334,0.256,0.421,0.296,0.08,0.091,0.082,0.082,0.081,0.081,0.083,0.081,0.08,0.081,0.081,0.081,0.081,0.08,0.08,0.085,0.081,0.08,0.081,0.082,0.085,0.081,0.08,0.08,0.081,0.082,0.089,0.081,0.081,0.084,0.083,0.081,0.085,0.082,0.082,0.082,0.085,0.089,0.081,0.084,0.081,0.089,0.081,0.081,0.081,0.081,0.082,0.081,0.083,0.087,0.084,0.083,0.083,0.083,0.084,0.083,0.083,0.085,0.086,0.084,0.085,0.085,0.083,0.083,0.086,0.084,0.083,0.083,0.083,0.089,0.089,0.084,0.083,0.082,0.083,0.085,0.234,0.084,0.083,0.083,0.083,0.083,0.082,0.083,0.084,0.082,0.085,0.081,0.084,0.081,0.08,0.087,0.085,0.081,0.081,0.082,0.08,0.081,0.081,0.082,0.08,0.082,0.081,0.085,0.447,0.149,0.08,0.089,0.081,0.082)
  // the builder quiet run (commit 9eb29ff) probe walls on identical code
  private val quietProbes: Seq[Double] = Seq(0.081,0.083,0.081,0.083,0.081,0.081,0.081,0.081,0.081,0.081,0.083,0.082,0.082,0.086,0.083,0.081,0.08,0.083,0.082,0.081,0.08,0.083,0.08,0.082,0.084,0.082,0.082,0.086,0.085,0.082,0.081,0.081,0.08,0.081,0.081,0.081,0.081,0.08,0.082,0.084,0.08,0.081,0.08,0.08,0.082,0.08,0.084,0.084,0.085,0.082,0.086,0.08,0.082,0.08,0.08,0.081,0.083,0.082,0.08,0.08,0.082,0.082,0.082,0.081,0.083,0.087,0.082,0.081,0.083,0.081,0.081,0.081,0.08,0.08,0.081,0.081,0.084,0.086,0.087,0.086,0.085,0.082,0.084,0.084,0.084,0.084,0.098,0.093,0.086,0.092,0.081,0.085,0.094,0.083,0.084,0.082,0.095,0.099,0.096,0.097,0.098,0.08,0.08,0.08,0.08,0.081,0.081,0.08,0.08,0.08,0.08,0.08,0.087,0.082,0.082,0.081,0.081,0.081,0.08,0.08,0.08,0.081,0.082,0.08,0.08,0.08,0.08,0.08,0.08,0.08,0.08,0.081,0.08,0.081,0.08,0.089,0.089,0.084,0.081,0.081,0.08,0.08,0.08,0.08,0.08,0.083,0.08,0.08)

  // 147 query names (sorted run order) of the round-10 re-stamp runs
  private val r10Names: Seq[String] = Seq("q01_pricing_summary","q02_filter_revenue","q03_top_orders","q04_order_priority","q05_region_revenue","q06_window_topk","q07_anti_join","q08_rollup","q09_distinct_stats","q100_embedding_drift","q101_containment","q102_packed_export","q103_bm25_retrieval","q104_growth_curve","q105_containment_lsh","q106_dedup_index","q106b_index_build","q106p_index_probe","q107_dedup_survivors","q108_boiler_strip","q109_survivors_quality","q10_pivot","q110_hashed_classifier","q111_ann_recall","q112_index_absorb","q112a_index_absorb","q113_near_contamination","q114_cluster_quality","q115_shard_drift","q116_span_ownership","q117_weighted_sample","q118_ngram_exposure","q119_semdedup","q11_set_ops","q120_cdc_chunks","q121_dsir_selection","q122_winnowing","q123_pca_covariance","q124_bucketed_join","q124b_layout_build","q124p_bucketed_probe","q125_rollup_maintenance","q126_skew_diagnosis","q127_k_anonymity","q128_journey_paths","q129_token_budget","q12_scalar_subquery","q130_split_leakage","q131_source_divergence","q132_curriculum_order","q133_deletion_audit","q134_triangle_count","q135_mi_features","q136_rank_fusion","q137_triangle_delta","q138_edge_similarity","q139_kcore","q13_cube","q140_retrieval_eval","q141_cluster_purity","q142_assortativity","q14_approx_distinct","q15_window_funcs","q16_unpivot","q17_salted_agg","q18_argmax","q19_or_of_ands","q20_epoch_normalize","q21_split_explode","q22_json_extract","q23_iso_validate","q24_grouping_sets","q25_window_tumbling","q26_window_session","q27_window_sliding","q28_asof_join","q29_typed_agg_mask","q30_dedup_exact","q31_dedup_canonical","q32_dedup_jaccard","q33_dedup_minhash_lsh","q34_simhash_fingerprint","q35_simhash_pairs","q36_rolling_fingerprint","q37_dedup_embedding","q38_dedup_clusters","q39_dedup_embedding_lsh","q40_text_stats","q41_lang_id","q42_quality","q43_token_count","q44_tfidf_top_terms","q45_stratified_sample","q46_sequence_packing","q47_repetition_score","q48_bigram_topk","q49_length_quantile","q50_binary_meta","q51_decode_stats","q52_media_features","q53_frame_sample","q54_contamination","q55_training_order","q56_shard_assign","q57_doc_chunking","q58_incremental_dedup","q59_lm_score","q60_knn_brute","q61_lsh_pairs","q62_ivf_knn","q63_min_cost_offer","q64_important_suppliers","q65_range_join","q66_moving_avg","q67_heavy_hitters","q68_clean_funnel","q69_source_mixing","q70_kmeans","q71_span_dedup","q72_gopher_rules","q73_pii_scrub","q74_url_canonical","q75_length_digest","q76_embedding_clusters","q77_pagerank","q78_salted_join","q79_int8_quant","q80_snapshot_diff","q81_sketch_rollup","q82_transitions","q83_upsert_merge","q84_asof_native","q85_bpe_pairs","q86_domain_cap","q87_zorder_layout","q88_global_ntile","q89_bloom_join","q90_source_overlap","q91_scd2_intervals","q92_event_funnel","q93_boilerplate","q94_mix_allocation","q95_cohort_retention","q96_rate_anomaly","q97_pmi_pairs","q98_data_profile","q99_fk_integrity")
  // commit 04d886c: quiet re-stamp run, probe-flat box (ratio 1.063), two GC-blip
  // probes (deltas 0.065/0.042 s) flagged 4 rows and flipped contended
  private val r10StampProbes: Seq[Double] = Seq(0.081,0.081,0.085,0.083,0.082,0.08,0.082,0.082,0.081,0.084,0.082,0.082,0.08,0.087,0.086,0.086,0.084,0.081,0.081,0.085,0.085,0.082,0.085,0.082,0.081,0.083,0.084,0.083,0.085,0.083,0.084,0.082,0.085,0.083,0.087,0.082,0.083,0.081,0.083,0.083,0.084,0.084,0.086,0.083,0.084,0.084,0.081,0.083,0.082,0.087,0.084,0.085,0.084,0.082,0.084,0.081,0.082,0.081,0.083,0.084,0.086,0.087,0.083,0.086,0.085,0.087,0.086,0.084,0.082,0.086,0.082,0.083,0.082,0.081,0.081,0.081,0.081,0.082,0.081,0.083,0.083,0.082,0.084,0.088,0.092,0.083,0.086,0.084,0.081,0.086,0.084,0.084,0.085,0.084,0.083,0.084,0.085,0.084,0.084,0.082,0.083,0.148,0.081,0.081,0.081,0.081,0.084,0.085,0.085,0.082,0.082,0.089,0.081,0.082,0.081,0.081,0.082,0.082,0.081,0.081,0.082,0.081,0.081,0.084,0.083,0.083,0.082,0.082,0.086,0.084,0.125,0.081,0.081,0.082,0.083,0.083,0.085,0.084,0.082,0.081,0.081,0.082,0.081,0.083,0.081,0.086,0.082,0.081)
  // commit c491055: the second re-stamp run — disjoint blip (delta 0.099 s at the
  // closing probe), again on a probe-flat box (ratio 1.049)
  private val r10Stamp2Probes: Seq[Double] = Seq(0.082,0.083,0.083,0.083,0.083,0.083,0.082,0.084,0.084,0.084,0.082,0.081,0.083,0.093,0.083,0.082,0.083,0.082,0.083,0.085,0.082,0.083,0.086,0.092,0.087,0.085,0.082,0.083,0.081,0.082,0.083,0.096,0.083,0.083,0.084,0.084,0.083,0.083,0.084,0.082,0.083,0.084,0.084,0.083,0.094,0.084,0.083,0.085,0.083,0.084,0.084,0.084,0.082,0.082,0.083,0.083,0.085,0.085,0.083,0.085,0.082,0.085,0.084,0.086,0.083,0.084,0.084,0.084,0.082,0.083,0.084,0.083,0.083,0.083,0.084,0.086,0.085,0.083,0.087,0.084,0.083,0.084,0.082,0.083,0.082,0.081,0.083,0.085,0.087,0.082,0.084,0.085,0.084,0.083,0.084,0.083,0.084,0.083,0.082,0.083,0.084,0.083,0.082,0.083,0.082,0.083,0.083,0.084,0.082,0.083,0.082,0.083,0.081,0.082,0.082,0.082,0.084,0.084,0.083,0.082,0.084,0.082,0.113,0.082,0.082,0.083,0.085,0.082,0.082,0.083,0.083,0.084,0.084,0.084,0.084,0.084,0.083,0.083,0.083,0.083,0.116,0.086,0.084,0.094,0.118,0.11,0.121,0.182)

  test("r8 replay: run-level checks miss the partial burst (the recorded false negative)") {
    val (flag, ratio, _) = Bench.contentionFlags(r8Probes, Nil)
    assert(!flag && ratio < Bench.ProbeRatioThreshold,
      s"run-level probe check now fires on the r8 series (ratio $ratio) — replay premise changed")
  }

  test("r8 replay: adjacent-probe elevation flags the inflated query cluster") {
    val dirty = Bench.probeDirtyQueries(r8Names, r8Probes).toSet
    // the burst's core cluster — probes ≥0.152 s over the run median, far
    // above the GC-blip absolute floor. q111/q119 (burst-edge probes at
    // +0.096/+0.070 s, below the floor) are not flagged: a sub-floor burst
    // is indistinguishable from a GC blip.
    val expected = Set(
      "q110_hashed_classifier", "q120_cdc_chunks",
      "q121_dsir_selection", "q122_winnowing", "q123_pca_covariance",
      "q94_mix_allocation", "q95_cohort_retention")
    val missed = expected -- dirty
    assert(missed.isEmpty, s"probe mechanism missed: $missed (flagged: $dirty)")
    // adjacency sweeps in immediate neighbors of the burst windows — that
    // is correct (their numbers ran in the same dirty window) but the set
    // must stay burst-sized, not run-sized
    assert(dirty.size <= 20, s"probe mechanism flagged ${dirty.size} of ${r8Names.size} — overfiring")
  }

  test("r10 re-stamp replay: recorded quiet-run GC blips stay below the absolute floor") {
    // both recorded re-stamp series ran on a probe-flat box (ratios
    // 1.063/1.049) with cpu medians agreeing at ~1.00 against the quiet
    // baseline, yet the ratio-only rule flagged disjoint 4-row/1-row sets
    // (deltas 0.042–0.099 s) and flipped `contended`. Under the absolute
    // floor both series must go quiet.
    assert(Bench.probeDirtyQueries(r10Names, r10StampProbes).isEmpty,
      s"04d886c blips still flag: ${Bench.probeDirtyQueries(r10Names, r10StampProbes)}")
    assert(Bench.probeDirtyQueries(r10Names, r10Stamp2Probes).isEmpty,
      s"c491055 blip still flags: ${Bench.probeDirtyQueries(r10Names, r10Stamp2Probes)}")
  }

  test("r8 replay: the probe-dirty set alone is material and flips contended") {
    val dirty = Bench.probeDirtyQueries(r8Names, r8Probes)
    assert(dirty.size >= Bench.DirtyCountThreshold,
      s"probe-dirty set ${dirty.size} below threshold — r8 would still read clean")
  }

  test("quiet replay: same code, quiet box — detection stays silent") {
    // the quiet run's own recorded probe series
    val probeDirty = Bench.probeDirtyQueries(r8Names, quietProbes)
    assert(probeDirty.size < Bench.DirtyCountThreshold,
      s"quiet probes flagged $probeDirty")
  }

  test("synthetic: a single GC blip flags at most its two neighbors, below the contended bar") {
    val names  = (1 to 40).map(i => f"q$i%02d")
    val probes = Seq.fill(20)(0.082) ++ Seq(0.234) ++ Seq.fill(20)(0.083)
    val dirty  = Bench.probeDirtyQueries(names, probes)
    assert(dirty.nonEmpty && dirty.size <= 2, s"blip flagged $dirty")
    assert(dirty.size < Bench.DirtyCountThreshold)
  }

  test("probe floor is scale-aware: a fast box's burst fires where the old 0.12 constant was silent") {
    // median 0.03 s probes (a box ~3x faster than the recorded one): floor
    // = max(1.5*0.03, 0.10) = 0.10 — the heap-driven GC-blip component
    // dominates, NOT a constant tuned to the slow box's 0.08 s probes
    assert(math.abs(Bench.probeElevatedFloorSec(0.03) - 0.10) < 1e-9)
    // on the recorded box the floor reproduces the r9-calibrated ~0.12
    assert(math.abs(Bench.probeElevatedFloorSec(0.083) - 0.1245) < 1e-9)
    // a 0.145 s probe on the fast box: delta 0.115 clears the 0.10 floor
    // (under the old absolute 0.12 it was invisible) — flags its neighbors
    val names  = (1 to 41).map(i => f"q$i%02d")
    val probes = Seq.fill(20)(0.03) ++ Seq(0.145) ++ Seq.fill(21)(0.03)
    val dirty  = Bench.probeDirtyQueries(names, probes)
    assert(dirty.nonEmpty && dirty.size <= 2, s"fast-box burst flagged $dirty")
    // sub-GC-blip deltas stay silent on ANY box: 0.095 s delta is
    // indistinguishable from a recorded heap pause (0.042-0.099 s)
    val blip = Seq.fill(20)(0.03) ++ Seq(0.125) ++ Seq.fill(21)(0.03)
    assert(Bench.probeDirtyQueries(names, blip).isEmpty)
  }

  test("official runner: only declared dual-mode rows burn a warm-up rep") {
    // the warm-up-bimodal rows (the ones BENCH_BASELINE.json marks with a
    // cpu_lo) burn one unrecorded rep so their measured median reads the
    // warm regime; every name must stay a registered query, or a rename
    // would silently drop its warm-up
    assert(Bench.WarmupRows == Set(
      "q100_embedding_drift", "q103_bm25_retrieval", "q110_hashed_classifier",
      "q119_semdedup", "q125_rollup_maintenance", "q23_iso_validate", "q60_knn_brute"))
    val unregistered = Bench.WarmupRows.filterNot(SparkEntry.queries.contains)
    assert(unregistered.isEmpty, s"warm-up rows missing from the registry: $unregistered")
  }
}
