package graft

/** Plan hygiene across EVERY SparkEntry query: no accidental cartesian
  * products, and nested-loop joins only where a 1-row build side makes
  * them the intended plan (J9-style cross joins against a global
  * aggregate). A new query that trips this either gets fixed or earns
  * an explicit whitelist entry with a reason; an entry whose query is
  * gone or no longer plans a nested-loop join fails too.
  */
class PlanAuditSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  // queries whose plan legitimately contains BroadcastNestedLoopJoin:
  // a deliberate cross join against a 1-row aggregate relation
  // (J9 share-of-total shape), or — for brute-force ANN — the
  // broadcast probe-set × corpus product that IS the operator.
  private val oneRowCrossJoinOk = Set(
    "share_within_segment",
    "ann_bruteforce_topk", "text_tfidf",
    "ann_pq_fixed_topk", "ann_pq_topk", "ann_pq_rerank_topk", // broadcast probe-table × coded corpus is the ADC operator
    "ann_pq_recall", // embeds the brute-force probe × corpus product — the exact baseline being measured
    "negative_sampling", // corpus size N as a broadcast 1-row aggregate
    "customer_deciles",  // ExactNtile: total row count N as a broadcast 1-row aggregate
    "text_collocations", // total token count as a broadcast 1-row aggregate (lift denominator)
    "chi2_status_priority", // grand total n as a broadcast 1-row aggregate (expected counts)
    "basket_association_rules", // basket total as a broadcast 1-row aggregate (lift denominator)
    "basket_triangles", // 1-row node/edge/triangle aggregates composed by cross join
    "lorenz_deciles", // ExactNtile: total row count N as a broadcast 1-row aggregate
    "dormant_customers", // dataset horizon (max date) as a broadcast 1-row aggregate
    "orderkey_gap_audit", // key horizon (max key) as a broadcast 1-row aggregate
    "abc_classification", // revenue grand total as a broadcast 1-row aggregate
    "rfm_segments", // horizon + three ExactNtile 1-row totals, all broadcast
    "whale_share", // customer count + revenue total as a broadcast 1-row aggregate
    "join_key_skew_profile", // top-10 hot-key row total as a broadcast 1-row aggregate
    // PrefixSum r5: the sorted pivot array rides a broadcast 1-row
    // aggregate cross join (the value-bucketing that replaced the RDD
    // two-job path); abc_classification above is the third consumer.
    "sequence_packing", "corpus_token_budget", "prefix_sum_bytes",
    // TemperatureSample: the sqrt-share denominator is a broadcast
    // 1-row aggregate cross-joined onto the O(groups) count frame
    "mixture_temperature_sample",
    "ann_hard_negatives", // bruteForceTopK's broadcast probe × corpus product is the scan
    "count_min_tokens", // the 1-row sketch buffer broadcast onto the 10-row probe frame
    "ks_two_sample_qty", // sample sizes (n_a, n_b) as a broadcast 1-row aggregate
    "kmv_jaccard_flags", // three 1-row sketch-stat aggregates composed by cross join
    "ann_rrf_fusion", // embeds bruteForceTopK's broadcast probe × corpus product (the exact retriever being fused)
    "pretrain_data_e2e", // composes TemperatureSample + PrefixSum, each with a broadcast 1-row aggregate
    "ann_maxsim_topk", // MaxSim late interaction: broadcast probe-set × corpus product IS the operator
    "ams_f2_tokens", // two 1-row aggregates (exact twin × sketch median) composed by cross join
    "quantile_sketch_price", // 3-row quantile-target literal × O(groups) count frame, broadcast
    "embedding_jl_distortion", // broadcast probe-set × bounded corpus product is the distortion eval
    "drift_tvd_quantity", // sample sizes (n_a, n_b) as a broadcast 1-row aggregate (the KS shape)
    "ams_join_size", // three 1-row aggregates (two sketches + exact twin) composed by cross join
    "ann_label_metrics", // embeds bruteForceTopK's broadcast probe × corpus product (the eval's exact ranking)
    "cohens_kappa_langid", // three 1-row aggregates (n, diag, pe) composed by cross join
    "priority_sample_subsetsum", // 1-row tau + 1-row estimate/exact aggregates composed by cross join
    "bm25_topk", // n_docs + total_len as broadcast 1-row aggregates (J9 shape, TextOps.bm25)
    "hybrid_bm25_dense_rrf", // bm25's 1-row aggregates + bruteForceTopK's broadcast probe × corpus (the exact dense leg)
    "unigram_lm_vocab", // survivor-total count as a broadcast 1-row aggregate (the final prob division)
    "tokenizer_fertility_compare", // three corpus totals meet in broadcast 1-row cross joins
    "curriculum_difficulty_shards", // ExactNtile's broadcast 1-row total (the customer_deciles shape) + NgramLm's broadcast N
    "zone_map_pruning", // 6-row predicate workload × zone-map/scan frames, broadcast — the audit IS preds × shards
    "naive_bayes_lang", // class-prior (|classes| rows) + vocab-size 1-row model frames broadcast onto test tokens
    "hits_hubs_authorities", // per-half-round 1-row max-normalizer aggregates composed by cross join (J9 shape)
    "query_likelihood_topk", // 3-term query literal × doc-length frame + 1-row collection total, broadcast
    "word2vec_neg_table", // 20 broadcast draws range-probe the cumulative table (SearchSorted at vocab scale, documented)
    "cusum_drift_orders", // day-count/total 1-row aggregate broadcast onto the day-grain frame (J9 shape)
    "hellinger_token_drift", // token grand totals as a broadcast 1-row aggregate onto the 20-row top frame
    "prf_query_expansion", // n_docs/total_len collection stats as broadcast 1-row aggregates (the bm25_topk shape)
    "neyman_allocation", // weight total + shortfall as broadcast 1-row aggregates over the |strata|-row frame
    "ipw_total_estimate", // estimate/exact totals as a broadcast 1-row aggregate onto the |strata|-row frame
    "gini_stump_quantity", // class grand totals as a broadcast 1-row aggregate onto the value histogram
    "gains_chart_deciles", // customer count + revenue total as broadcast 1-row aggregates (ExactNtile shape)
    "kaplan_meier_repurchase", // dataset horizon + cohort size as broadcast 1-row aggregates
    "knn_graph_recall", // blocked brute-force truth: the tiny block-id frames (4/8 rows) replicate sides via BNLJ by design
    "knn_graph_nndescent", // same blocked brute-force truth twin as knn_graph_recall (before/after recall legs)
    "triangle_count_semantic", // the three 1-row totals (edges/wedges/triangles) meet in broadcast cross joins (J9 shape)
    "ndcg_dense_eval", // embeds bruteForceTopK's broadcast probe × corpus product (the exact dense retriever under eval)
    "mrr_dense_eval", // same broadcast probe × corpus dense retriever as ndcg_dense_eval (10-probe set)
    "map_dense_eval", // same broadcast probe × corpus dense retriever as ndcg_dense_eval (10-probe set)
    "knn_graph_retrain_drift", // blocked brute-force truth block-id frames + 1-row churn/recall metric cross joins
    "tpch_q22_global_sales", // global positive-balance average as a broadcast 1-row aggregate (the J9 shape)
    "tpch_q11_important_parts", // global value total + part count as broadcast 1-row aggregates (J9 shape)
    "kneser_ney_bigram", // distinct-bigram total B as a broadcast 1-row aggregate (J9 shape)
    "suffix_lrs_topk", // 10-row broadcast top-k range-joins the char frame to reconstruct the repeated text
    "suffix_array_digest", // the SA md5 and BWT md5 1-row aggregates compose by cross join (J9 shape)
    "good_turing_vocab", // corpus totals (V, N, N1, N2) as broadcast 1-row aggregates (J9 shape)
    "mann_kendall_trend", // the bounded 366-row day-grain pairwise self-join (di < dj) is the statistic
    "theil_sen_slope", // same bounded pairwise product + 1-row median/count broadcasts (J9 shape)
    "hodges_lehmann_mad", // bounded ≤366-row day-grain Walsh pairwise product (a.d <= b.d) + 1-row median/MAD broadcasts
    "mad_outlier_days", // the 1-row median and MAD frames broadcast onto the bounded day frame (J9 shape)
    "trimmed_mean_daily", // the 1-row kept/full totals meet in broadcast cross joins (J9 shape)
    "wilson_ci_quality", // the 1-row corpus median broadcasts onto the doc frame (J9 shape)
    "skew_advisor_tokens", // the 1-row stats and median frames meet in a broadcast cross join (J9 shape)
    "dbscan_ivf_recall", // blocked exact truth twin's block-id frames + the three 1-row pair counts meeting in broadcast cross joins (J9 shape)
    "conformal_forecast_interval", // calibration size + 1-row qhat as broadcast cross joins (J9 shape)
    "runs_test_daily", // day count + 1-row median as broadcast cross joins (J9 shape)
    "ann_matryoshka_topk", // prefix-stage brute scan: the 10-probe set broadcasts into the corpus scan (the ann_bruteforce shape)
    "ann_matryoshka_recall", // same prefix-stage probe-set broadcast + the exact-truth brute scan
    "ann_rq_topk", // compressed-domain brute scan: broadcast probe ADC tables into the codes scan (the ann_pq_fixed shape)
    "ransac_rate_trend", // 8 candidate lines cross the bounded ≤366-row day frame — the scoring product IS the statistic
    "rtbf_purge_audit", // five 1-row audit counts meet in broadcast cross joins (J9 shape)
    "borda_fusion_suppliers", // ranker universe size N as a broadcast 1-row aggregate (J9 shape)
    "t_closeness_audit", // global row count N as a broadcast 1-row aggregate (J9 shape)
    "copeland_duel_suppliers", // bounded top-12 duel square (broadcast by design) + the Borda 1-row N aggregate
    "histogram_selectivity_eval", // 3-row probe workload × value scan (the zone_map_pruning shape) + 16-row bounds product + ExactNtile's 1-row N
    "consistent_hash_ring", // the bounded 128-row ring broadcast range-probes every key — the successor lookup IS the operator
    "bloom_fpr_audit", // filter size m = 16·|members| arrives as a broadcast 1-row count (J9 shape) on both build and probe sides
    "fairness_parity_langs", // corpus-wide pass-rate total as a broadcast 1-row aggregate (J9 shape)
    "diameter_two_sweep", // five 1-row sweep summaries meet in broadcast cross joins (J9 shape)
    "region_homophily_flows", // the 1-row total/diagonal/marginal aggregates meet in broadcast cross joins (J9 shape)
    "isotonic_calibration", // PAVA max-min over the BOUNDED 10-bucket grain: ≤55-interval broadcast products by construction
    "mase_forecast_eval", // train-side (n, sae) as a broadcast 1-row aggregate (J9 shape)
    "cramers_v_association", // grand total N as a broadcast 1-row aggregate (the chi2 shape)
    "kendall_tau_nations", // bounded 25-nation pairwise product (the mann_kendall convention)
    "heaps_law_trigram_curve", // 10-row decile spine range-probes the first-occurrence frame (word2vec_neg_table shape)
    "err_rbp_dense_eval", // embeds bruteForceTopK's broadcast probe × corpus product (the ndcg retriever under eval)
    "winsorized_mean_daily") // the 1-row clamp-limit frame broadcast onto the bounded day frame (J9 shape)

  test("no query plans CartesianProduct; nested-loop joins only where intended") {
    val plans = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, dir).queryExecution.executedPlan.toString
    }
    val offenders = plans.flatMap { case (name, plan) =>
      val cartesian = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin") && !oneRowCrossJoinOk(name)
      if (cartesian) Some(s"$name: CartesianProduct")
      else if (bnlj) Some(s"$name: unexpected BroadcastNestedLoopJoin")
      else None
    }
    // an allowlist entry must still be needed: it names a query whose
    // plan has a nested-loop join
    val withBnlj = plans.collect {
      case (name, plan) if plan.contains("BroadcastNestedLoopJoin") => name
    }.toSet
    val stale = oneRowCrossJoinOk.toSeq.sorted.filterNot(withBnlj).map { name =>
      if (SparkEntry.queries.contains(name)) s"$name: allowlisted, plans no BroadcastNestedLoopJoin"
      else s"$name: allowlisted, names no query"
    }
    assert(offenders.isEmpty && stale.isEmpty, (offenders ++ stale).mkString("\n"))
  }
}
