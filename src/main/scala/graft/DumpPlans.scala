package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: dump `explain("formatted")` for the headline queries into a
  * markdown artifact (docs/PLANS.md) so plan posture is reviewable without
  * running Spark. Usage: `sbt "runMain graft.DumpPlans <sfDir> <outFile>"`. */
object DumpPlans {
  private val Headline = Seq(
    "q_pricing_summary", "q_filtered_revenue", "q_shipping_priority",
    "q_composite_scores", "q_full_scores", "q_minhash_lsh_neardup",
    "q_simhash_hamming", "q_ann_ivf", "q_tfidf_top_terms",
    "q_orders_keyset_page", "q_weighted_sample",
    "q_approx_quantile_bounds", "q_sliding_spend_30d",
    "q_click_attribution", "q_salted_skew_join", "q_grouping_sets",
    "q_cms_heavy_hitters", "q_fuzzy_neardup_join", "q_zorder_quadrants",
    "q_pagerank_suppliers", "q_table_profile", "q_mad_outliers",
    "q_nation_revenue_share", "q_vocab_encode", "q_kmv_native_agg",
    "q_skew_profile", "q_ewma_value", "q_bloom_dedup_gate",
    "q_cross_dup_mass", "q_asof_native", "q_lang_quality_gate",
    "q_twap_value", "q_interval_coverage", "q_sketch_rollup",
    "q_ohlc_bars", "q_benford_audit", "q_serving_results",
    "q_ingest_pipeline_e2e", "q_bm25_topk", "q_semdedup",
    "q_dsir_importance", "q_hybrid_rrf", "q_perplexity_buckets",
    "q_cdc_chunk_dedup", "q_temperature_mix", "q_curation_funnel",
    "q_asof_tolerance", "q_entity_resolution_jw", "q_bfs_levels",
    "q_incremental_postings", "q_kn_bigram_logprob", "q_quality_classifier",
    "q_sq8_adc", "q_kcore_peel",
    "q_ks_two_sample", "q_mannwhitney_u", "q_gini_spend",
    "q_cusum_changepoint", "q_sssp_delay", "q_hits_rank",
    "q_textrank_keywords", "q_nb_lang_classify", "q_jl_projection",
    "q_link_prediction", "q_skyline_parts", "q_cuped_ab", "q_survival_km",
    "q_pq_adc", "q_knn_classify", "q_roc_auc", "q_dau_wau_mau",
    "q_minhash_recall", "q_shapley_attribution", "q_power_law_fit",
    "q_winsorized_mean", "q_running_anomaly_flags",
    // round 7-8: correlated-subquery decorrelations + iterative MM +
    // sketch rollup + incremental index fold
    "q_tpch_q2_min_cost_supp", "q_tpch_q4_late_exists",
    "q_tpch_q16_supplier_census", "q_tpch_q18_large_orders",
    "q_tpch_q19_disjunctive_rev", "q_tpch_q21_waiting_supplier",
    "q_bradley_terry", "q_hll_sketch_rollup", "q_incremental_lsh",
    // round 10 session 3: trend/governance family + the Expand-free
    // certified HLL profiler + one-pass grouped histogram quantiles
    "q_holt_linear", "q_theil_sen", "q_k_anonymity", "q_centroid_drift",
    "q_mann_kendall", "q_good_turing",
    "q_table_profile_hll", "q_rfm_scores")

  /** Per-query caveats appended under the dump — where the printable
    * (audit-transparent) plan differs from what executes. */
  private val Notes: Map[String, String] = {
    val cachedNote =
      "NOTE: this is the audit-transparent plan (Cached.auditPlan). At " +
        "runtime the builder persists and MATERIALIZES the shared " +
        "intermediate before the consuming job, so subtrees shown here " +
        "more than once execute ONCE and the other consumers read the " +
        "InMemoryRelation; the builder unpersists in finally " +
        "(graft.queries.Cached.withPinned — r15: consumers additionally " +
        "build on one-node LogicalRDD pins over the cache, so the " +
        "duplicated subtrees shown here are not even re-ANALYZED at " +
        "runtime; see org.apache.spark.sql.graft.PlanPin)."
    Map(
      "q_bloom_dedup_gate" -> (cachedNote +
        " Concretely: the TWO ObjectHashAggregate bloom-build subtrees " +
        "below are one 1-row cached build at runtime — filterDf.count() " +
        "runs first, both BroadcastExchanges then consume the cache."),
      "q_minhash_lsh_neardup" -> cachedNote,
      "q_simhash_hamming" -> cachedNote,
      "q_ingest_pipeline_e2e" -> cachedNote)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.DumpPlans — do not hand-edit)\n\n")
    sb.append(s"Source: `$sfDir`. Things to check in every plan: `PushedFilters`\n")
    sb.append("and a narrow `ReadSchema` at the scan, `BroadcastHashJoin` for dim\n")
    sb.append("joins, map-side `partial_` aggregates before each exchange, wide\n")
    sb.append("`WholeStageCodegen` spans, and no `CartesianProduct`/UDF nodes\n")
    sb.append("(asserted suite-wide by PlanSpec).\n")
    for (name <- Headline) {
      // auditPlan: see Cached — keeps withPinned/pinned builders' full
      // plans visible instead of an eagerly checkpointed RDD scan
      val plan = graft.queries.Cached.auditPlan {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      }
      sb.append(s"\n## $name\n\n")
      Notes.get(name).foreach(n => sb.append(s"$n\n\n"))
      sb.append(s"```\n$plan```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    spark.stop()
  }
}
