package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainUtils, FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-audit utility: dumps formatted physical plans of flagship
  * queries to PLANS.md — the evidence trail for the scale claims in
  * SCALE.md (pushdown reaching scans, broadcasts, TakeOrderedAndProject,
  * native TopKPerGroup, no stray sorts/exchanges).
  */
object Explain {
  private val audited = Seq(
    "bucket_join_colocated" ->
      ("Both sides written bucketed 8× on the join key: SortMergeJoin with NO exchange " +
        "on either input (the construction-time require() asserts it); only the final " +
        "rollup shuffles."),
    "resource_allocation_links" ->
      ("Inverted-index pair generation (the link_prediction_jaccard shape); 1/deg rides " +
        "the lcm(1..13) integer scaling so the RA score is exact; top-20 as TakeOrderedAndProject."),
    "dedup_threshold_curve" ->
      ("One shared exact-Jaccard pair frame feeds every threshold band — integer floor " +
        "banding, a 10-row cumulative window; no per-threshold re-run of the dedup chain."),
    "stress_centrality_nations" ->
      ("Final assembly over the checkpointed all-pairs BFS σ-frame: the triple equi-join " +
        "σ(s,v)·σ(v,t) with the d(s,v)+d(v,t)=d(s,t) filter on the bounded nation grain; " +
        "the per-round plan is the bfs_hops shape with a path-count sum."),
    "heaps_law_trigram_curve" ->
      ("Trigram first-occurrence = one min-agg; the decile census is a broadcast 10-row " +
        "range probe against it — never a per-decile corpus rescan."),
    "ytd_by_region" ->
      "Range predicate reaches PushedFilters (row-group pruning); dims broadcast; partial+final agg.",
    "top5_suppliers" ->
      "Top-k plans as TakeOrderedAndProject — no global sort.",
    "grain_consolidation" ->
      "Scan → partial hash agg → single exchange → final agg.",
    "ann_bruteforce_topk" ->
      "Probe set broadcast; native TopKPerGroup (bounded heaps), no per-group sort.",
    "monthly_star_rollup" ->
      "8-way star: small dims broadcast; only lineitem⋈orders shuffles.",
    "dedup_ngram_jaccard" ->
      "Inverted-index equi-join on shingle hashes; no cross join anywhere.",
    "dedup_minhash_lsh" ->
      "Map-only signature kernel (no shingle shuffle); bucket join + pair dedup on ids only; signatures re-attach for verify.",
    "scd2_customer_priority" ->
      "One window shuffle on the key drives change-collapse and both validity bounds.",
    "snapshot_diff_orders" ->
      "Single full-outer shuffle join on the key; classification stays in the projection.",
    "hash_sample_orders" ->
      "md5-threshold accept is a scan-stage filter — map-only, no shuffle, no RNG state.",
    "native_topk_suppliers" ->
      "Native operator: partial TopKPerGroup heaps → one exchange on the group key → final heaps; no Window, no per-group sort.",
    "dense_id_customers" ->
      "Range-partition + in-partition sort, checkpointed once; ids = broadcast per-partition offset + the local position from monotonically_increasing_id — no single-partition window, no RDD scan.",
    "concurrent_sessions_peak" ->
      "Sweep-line deltas partition BY DAY — running-sum windows parallelize across days, never a global sort.",
    "rolling_active_users" ->
      "Bounded 24x replication (explode of an hour sequence) + two-phase distinct per bucket — no inequality join.",
    "embedding_neardup" ->
      "LSH bucket self-join carries ids only; vectors re-attach for the exact-cosine verify; VecDot stays in codegen.",
    "corpus_curation" ->
      "Kernel-scored frame materialized once; downstream filter/dedup/sample read the scored columns without re-evaluating them.",
    "customer_deciles" ->
      "ExactNtile: range-partition rank + broadcast 1-row total — NTILE with no single-partition window.",
    "text_contamination" ->
      "Benchmark gram set broadcast; corpus gram stream never shuffles — the per-doc agg is the only exchange.",
    "text_collocations" ->
      "Min-count filter precedes both vocab joins. The static plan below triplicates the vocab agg; at runtime AQE plans ReusedExchange for the 2nd join and the total (verified on the executed plan), so the corpus explodes once.",
    "mixture_sample_counts" ->
      "Count-targeted mixture: native TopKPerGroup bounded heaps on md5(key) per source — no per-group sort, no window; exchange carries at most partitions × groups × maxBudget rows.",
    "embedding_covariance_topk" ->
      "Second-moment matrix: ONE typed-Aggregator exchange (a flat upper-triangle buffer per task), then a 2016-row explode + broadcast index join — never rows × dim² pairs.",
    "shard_manifest" ->
      "Map-only md5 shard assignment; one partial+final agg; 16-row result at any corpus size.",
    "sequence_packing" ->
      "PrefixSum r5 (pure value-bucketed): pivot sample is a broadcast 1-row array; bucket ids map-side; the only data shuffles are the O(buckets) totals agg and the PARTITION BY bucket window — no RDD, no global window, no collected offsets.",
    "corpus_token_budget" ->
      "Greedy budget selection over PrefixSum's bucketed cumsum; token scoring stays in the scan stage; the cumulative threshold filter runs after the bucket window, never on the driver.",
    "prefix_sum_bytes" ->
      "Tokenizer-free PrefixSum tripwire: octet_length in the scan projection; otherwise the identical bucketed-cumsum plan as sequence_packing (divergence localizer).",
    "multimodal_features" ->
      "Real javax.imageio decode inside a typed mapPartitions batch kernel; binary payloads never shuffle — the only exchange is the final orderBy of the compact feature rows.",
    "ann_pq_fixed_topk" ->
      "PQ-ADC: corpus scan emits M-byte codes map-side (PqCodes); probe tables broadcast; per-pair cost is M integer lookups (AdcDistance); bounded-heap TopKPerGroup — vectors never shuffle.",
    "shard_packing_layout" ->
      "Per-shard packing is a PLAIN partitioned window (shard-count parallelism is native) — PrefixSum stays reserved for the truly global cumsum.",
    "ann_pq_rerank_topk" ->
      "Two-stage: integer ADC shortlist over codes, then vectors re-attach for probes x 50 rows only (skinny-shuffle) and exact cosine reranks inside bounded heaps.",
    "corpus_epoch_mixture" ->
      "Broadcast factors join + bounded explode (<= factor+1 rows/doc); the fractional-epoch draw is a map-side md5 — the output IS the blow-up, no wide intermediate.",
    "ann_ivfadc_topk" ->
      "IVFPQ composition: CentroidIds routes map-side; candidates are an EQUI-join on list id (broadcast probe tables) — no cross join; per-pair cost is M integer lookups over codes.",
    "embedding_semdedup_buckets" ->
      "Trained-PQ code prefix as the cluster signature: map-side codes, ONE count aggregate — the semantic-dedup candidate stage at any corpus size.",
    "line_dedup_boilerplate" ->
      "C4-style line dedup: exploded lines checkpointed once; blacklist (lines in >k docs) is a broadcast build side, so the corpus probe never shuffles — the doc_id reassembly agg is the only corpus exchange.",
    "bpe_segment_fixed" ->
      "BPE serving: the whole segmentation is the one-pass SpaceEncode kernel + literal StringReplace chains inside the scan-stage projection — map-only, the final orderBy is the only exchange.",
    "mixture_temperature_sample" ->
      "Temperature resampling: O(groups) count agg + broadcast 1-row denominator; thresholds broadcast back, the corpus accept test is a map-side md5 filter — the corpus never shuffles.",
    "dsir_importance_select" ->
      "DSIR selection: checkpointed token stream feeds the vocab agg; ratio table broadcasts onto the probe; one map-side-combining per-doc agg + TakeOrderedAndProject for the top-k.",
    "image_dhash_neardup" ->
      "Image near-dup: decode+dHash stay in the typed scan stage (checkpointed); candidates are an equi-join on fingerprint chunks with a broadcast hot-chunk blacklist — no all-pairs product.",
    "kmv_distinct_orders" ->
      "Mergeable bottom-k sketch: udaf partials hold ≤k longs per task (map-side combine), ONE exchange of O(k) state per group; the 'ALL' row re-aggregates the per-group sketches — no distinct-shuffle of the keys, no rescan.",
    "hll_distinct_orders" ->
      "HLL registers: fixed 256-long buffer per task, merge = element-wise max; the only key-bearing exchange is the separate exact-distinct twin — the sketch itself ships O(m) state.",
    "quality_hash_classifier" ->
      "Hashed linear filter: token weights are md5 arithmetic in the scan stage (the hash IS the model — no vocab broadcast); one map-side-combining doc agg + an O(sources) rollup.",
    "pretrain_data_e2e" ->
      "The four-stage composition keeps each stage's shape: map-side scoring, one dedup agg, broadcast mixture thresholds, bucketed PrefixSum cumsum — corpus text is scanned per stage, never shuffled; only ids/counts cross exchanges.",
    "fuzzy_name_pairs" ->
      "ER blocking: names shrink to their distinct grain FIRST, candidates are a token inverted-index equi-join (no cartesian name grid), levenshtein verifies in the projection.",
    "pagerank_supplier_customer" ->
      "Iterative joins: degree-joined edge frame checkpointed once and scanned 5×; each round is one broadcast-rank equi-join + one destination agg — no per-round materialization at k=5.",
    "ann_maxsim_topk" ->
      "Late interaction: ONE codegen'd MaxSimScore node per pair (no slice materialization) over the broadcast probe product; bounded-heap TopKPerGroup caps the exchange at k rows per (partition, query).",
    "ann_ivf_maxsim_topk" ->
      "MaxSim behind the IVF router: map-side CentroidIds list assignment, probes fan to nprobe lists, the S² kernel prices only the routed equi-join — the full corpus never meets the scorer.",
    "ams_f2_tokens" ->
      "AMS sketch: nine ±1 sign sums accumulate map-side as nine longs per task (O(9) state, cardinality-independent); the groupBy-count shuffle belongs to the exact twin only.",
    "supplier_trailing30_range" ->
      "VALUE-based RANGE frame: pre-aggregation to the (supplier, day) grain shrinks the window input; the supplier filter sits on the partition key and prunes the scan.",
    "quantile_sketch_price" ->
      "Histogram quantile sketch: O(bins) mergeable counts per group + a broadcast 3-row quantile-target frame; the full sort belongs to the exact order-statistic twin only.",
    "er_resolved_entities" ->
      "ER merge: blocked pairs at the distinct-name grain feed pointer-jumping CC (O(log d) rounds); the cluster rollup joins labels back at O(names), never the part row grain.",
    "embedding_jl_distortion" ->
      "JL projection: quantize+project are map-only integer kernels in the scan stage; pair distances are two O(dim) integer chains over the broadcast probe product.",
    "ppjoin_set_similarity" ->
      "PPJoin: candidates come from a PREFIX×PREFIX equi-join (rarest (1−α)|t|+1 elements under df-asc order); the verify joins carry ids only — no all-pairs product anywhere.",
    "cdc_chunk_dedup" ->
      "Content-defined chunking: the CdcChunks kernel runs in the typed scan stage (map-only); the census is one agg on chunk hashes with a TakeOrderedAndProject top-200.",
    "containment_excerpt_pairs" ->
      "Containment: inverted-index equi-join on shingle hashes + two size joins; the asymmetric integer test lives in the filter, not a new plan shape.",
    "ams_join_size" ->
      "AMS join sizing: two O(9)-state map-side sketch aggs + the exact-twin equi-join; the sketches meet in a 1-row cross join — no key set ever shuffles for the estimate.",
    "er_sorted_neighborhood" ->
      "Sorted neighborhood: DenseId range-partitioned rank (no single-partition window) + a bounded ×w offset explode joined back on rank — candidate volume exactly w·n.",
    "bootstrap_mean_ci" ->
      "Poisson bootstrap: bounded ×16 explode, multiplicities from scan-stage md5 thresholds, one map-side-combining agg over 16 groups.",
    "quality_quantile_normalize" ->
      "Quantile calibration: one source-partitioned window over the doc grain; the top-decile cut is a filter on the rank ppm, no global sort.",
    "dedup_span_excise" ->
      "ExactSubstr excision: positional span kernel map-side; the checkpointed census feeds blacklist agg + probe equi-join carrying ids+offsets only; coverage is a bounded ×n explode; the doc reassembly agg is the only corpus exchange.",
    "unigram_lm_vocab" ->
      "Unigram-LM hard-EM: static candidate frame checkpointed once; each round is one broadcast-vocab join + two word-keyed aggs + a map-side array-fold walk; the prune is TakeOrdered over the vocab-sized count frame.",
    "bm25_topk" ->
      "BM25: the probe-term filter prunes the tf/df aggregates through their group keys; n_docs and total_len ride broadcast 1-row relations; scoring is a scan-stage projection — no full-vocabulary work for a fixed query.",
    "html_extract_text" ->
      "HtmlExtract: the four-scan byte kernel runs in the scan-stage projection — map-only, zero regex machinery; the final orderBy is the only exchange.",
    "url_canonical_dedup" ->
      "UrlCanon map-side; keep-first dedup is ONE canon_url-keyed agg; the host cap is a per-host window over the already-deduped frame — governance without touching content.",
    "ngram_perplexity_filter" ->
      "CCNet gate: vocab-bounded bigram model tables; scoring is one bigram-keyed equi-join + one doc-grain agg; the reference mass N broadcasts as a 1-row relation.",
    "web_ingest_e2e" ->
      "Web ingest: HtmlExtract → PII redaction → quality/langid kernels compose into one scan-stage projection — the whole crawl chain is map-only until the final orderBy.",
    "hybrid_bm25_dense_rrf" ->
      "Hybrid retrieval: fusion joins carry (probe, id, rank) frames only — text and vectors never meet; the lexical leg prunes through group keys, the dense leg broadcasts the probe set.",
    "sft_loss_mask_offsets" ->
      "SFT mask layout: the exclusive prefix sum windows WITHIN each conversation (partition size = turn count, never corpus-grain); rendering and token counts stay in the scan stage.",
    "cluster_balanced_mixture" ->
      "Topic balancing: trained-PQ codes map-side; the cap is a per-cluster window over id+cluster rows; vectors never shuffle.",
    "rag_chunk_overlap" ->
      "RAG chunking: bounded start-sequence explode + array slices in the scan stage — map-only, linear in token mass; the final sort is the only exchange.",
    "split_leakage_check" ->
      "Eval hygiene rides the existing inverted-index Jaccard join restricted to cross-split pairs — no new plan shape; held-out docs report via a left join on ids only.",
    "preference_pairs" ->
      "DPO prep: quality kernel in the scan stage; chosen/rejected via two prompt-partitioned row_number windows (bounded candidates per partition) joined on the prompt key.",
    "bloom_semijoin_reduction" ->
      "Runtime-filter pattern: BloomMightContainLong is a projection-level boolean in the orders SCAN stage (map-side prune), the exact broadcast join only sees survivors — the fact table never shuffles unreduced.",
    "skyline_price_qty" ->
      "Sort-based 2-D skyline: per-price struct-max collapses the grain first; the frontier test is ONE running-max window over the bounded price domain — no dominance self-join.",
    "link_prediction_jaccard" ->
      "Co-occurrence candidates via the order-keyed equi-join (Σ|order|² budget, never |parts|²); degrees join back on the pair keys; TakeOrderedAndProject caps the output.",
    "bitext_mutual_pairs" ->
      "Mutual top-1: the scored pair frame materializes once (ids+sim only); both argmaxes are map-side-combinable struct-max aggs — no window over the pair frame, no second product.",
    "merkle_table_digest" ->
      "Row hashing is a scan-stage projection; each tree level is one bounded agg (leaf count = the parallelism unit); sorted-concat determinism via sort_array inside the agg.",
    "prf_query_expansion" ->
      "Both BM25 passes prune tf through the (broadcast) term join BEFORE scoring; the checkpointed tf frame serves three consumers; per-doc totals fold over term-sorted lists — no fixed-column pivot needed for data-dependent terms.",
    "gini_stump_quantity" ->
      "CART stump: the value histogram is the only fact-table agg; cumulative windows run over the bounded distinct-value domain; purity is a scan-stage expression over the broadcast totals.",
    "tpch_q3_shipping_priority" ->
      "Q3 shape: both date ranges reach PushedFilters on their scans; AQE broadcasts the filtered customer/orders sides; top-10 is TakeOrderedAndProject.",
    "tpch_q5_local_supplier" ->
      "Q5 shape: nation/region broadcast (bounded dims); the supplier co-location predicate rides the supplier join — the fact shuffles once; revenue is the exact-decimal sum.",
    "rolling_corr_qty_disc" ->
      "Rolling correlation: day-grain integer sufficient stats are the only fact agg; the RANGE window runs over ~2.4k day rows; the Pearson finish is a projection.",
    "kaplan_meier_repurchase" ->
      "KM curve: per-customer first/second windows, day-grain risk table, then ONE 1-row array frame whose per-position slice-fold is the prefix product — no per-row recursion.",
    "auc_quality_en" ->
      "ROC-AUC: quality kernel in the scan stage; the global rank is the single total sort (the exact-order-statistic cost class); the U statistic is a 1-row agg.",
    "kcore_decomposition" ->
      "All 3 peel rounds nest in THIS one plan (no per-round checkpoint — the r8 A/B measured AQE reusing the materialized exchanges across each survivor frame's two join sides, so checkpointing was equal-or-slower): each round is one degree agg + two node-keyed equi-joins over the checkpointed edge scan.",
    "hits_hubs_authorities" ->
      "Both HITS rounds nest whole: each half-step is ONE broadcast-score equi-join on the checkpointed bipartite edge frame + one destination agg; the 1-row max normalizers ride broadcast cross joins; all arithmetic on the 0..1000 integer grid. Loop invariant: per-round cost is O(|E|) join + agg, score frames broadcast (the PageRank escape hatch applies to graphs whose score frame outgrows broadcast).",
    "deepwalk_pairs" ->
      "All 3 walk steps nest over the ONCE-checkpointed neighbor index and degree frames: each step is one degree equi-join + one (node, idx) equi-join picking the md5-routed neighbor — walks advance wholly in the cluster, never on the driver.",
    "cf_item_neighbors" ->
      "Candidate pairs come from the basket self-join keyed on the ORDER id (Σ|basket|² budget — never |items|²); the item-count frames broadcast back onto the pair keys; the native bounded-heap TopKPerGroup caps the exchange at k rows per item.",
    "naive_bayes_lang" ->
      "Model-in-the-plan NB: class counts, totals, priors, and vocab all BROADCAST onto the held-out token stream, so scoring is map-side; the only corpus-sized exchanges are the training aggregates and the per-doc factor-fold agg.",
    "dedup_lsh_eval" ->
      "Eval harness running TWO production chains (exact n-gram Jaccard + MinHash LSH — each audited standalone above) that meet in ONE full-outer join on pair ids + a 1-row counts agg: the cost is the sum of its parts by design, not a regression.",
    "tpch_q18_large_orders" ->
      "Q18 shape: lineitem aggregates ONCE at the order grain, the HAVING filters there, orders/customer join onto surviving keys — one fact scan, no subquery re-scan; top-100 is TakeOrderedAndProject.",
    "tpch_q21_waiting_supplier" ->
      "Q21 shape: the correlated EXISTS/NOT-EXISTS plan as a left-SEMI + left-ANTI join keyed on the order id with residual supplier-inequality conditions — hash/merge joins throughout, no cartesian, no per-row lineitem re-scan; nation broadcasts.",
    "knn_graph_topk" ->
      "Corpus-wide kNN graph: candidates are ONE equi-join on the IVF list id over the checkpointed (id, vec, norm, probe-lists) base — ids only; vectors re-attach by id for the exact-cosine verify; native bounded-heap TopKPerGroup caps the exchange at k rows per node.",
    "image_text_alignment" ->
      "Cross-modal gate: image signatures come from decoded pixels in the typed scan stage (binaries never shuffle — the plan reads the compact signature rows), text signatures are 32 codegen'd ascii(substring) columns, pairing is two id equi-joins, scoring one fixed-order VecDot chain.",
    "dedup_span_maximal" ->
      "Anchor extension: the shared span census/blacklist chain (the dedup_span_excise shape) feeds a PER-DOCUMENT gaps-and-islands window (bounded by doc length), token text re-attaches via the (doc, pos) equi-join, one (doc, run)-grain agg reassembles each maximal span.",
    "packing_bfd_eval" ->
      "Bin packing with the SHARD as the parallelism unit: one corpus scan, one shard-grain agg collecting the two sorted item lists, then both FF and BFD run as array-aggregate folds INSIDE the projection — no per-item shuffles, no window; 16 result rows at any corpus size.",
    "triangle_count_semantic" ->
      "Degree-ordered triangle counting over the checkpointed oriented edge frame: the apex wedge self-join + left-SEMI closure are the only joins (wedge volume Σ out-deg², bounded by the orientation); the three totals meet in broadcast 1-row cross joins.",
    "lpa_modularity" ->
      "Modularity scoring on the converged LPA labels (checkpointed working table): one degree agg + two label equi-joins + one community-grain agg; per-community Q terms are scan-stage doubles — never a SUM over doubles.",
    "knn_graph_append" ->
      "Incremental maintenance: fresh probes ⋈ full index + base probes ⋈ FRESH index only (both list-id equi-joins over checkpointed bases), then the bounded-heap merge of yesterday's top-k with the new candidates — per-batch work, full-rebuild result.",
    "knn_graph_nndescent" ->
      "NN-descent round: the 2-hop closure is one self equi-join on the k-bounded edge list; rescore re-attaches vectors by id; both recall legs (IVF graph, refined graph) join the brute-force truth on pair ids into a 1-row agg.",
    "knn_graph_pq" ->
      "Memory-bounded graph build: the list-id candidate equi-join carries M-byte PQ codes and per-node ADC tables (no raw vectors); integer ADC + bounded-heap shortlist, then vectors re-attach for ≤ N·shortK rows only and exact cosine re-cuts to k.",
    "tpch_q20_dominant_supplier" ->
      "Q20 shape: the correlated aggregate-threshold decorrelates into TWO pre-aggregations ((part,supplier) grain, then part grain) meeting in one part-key equi-join; the threshold compares exact integers; supplier dim joins at the end — one fact scan total.",
    "ndcg_dense_eval" ->
      "nDCG under the parity law: the exact retriever is the broadcast probe×corpus product (10 probes — the operator), labels re-attach by id, per-query DCG folds rank-sorted terms inside the projection, IDCG indexes a literal prefix-sum array — no transcendental evaluates in-plan.",
    "mrr_dense_eval" ->
      "MRR: same broadcast dense retriever; first-relevant rank is one min agg over the label-joined top-10; the reciprocal is a single scan-stage division — no fold needed.",
    "map_dense_eval" ->
      "MAP: cumulative relevance is ONE window over the k-bounded (10-row-per-query) retrieval frame; per-rank precision terms are scan-stage divisions; the AP fold runs rank-sorted inside the projection (the ndcg recipe).",
    "tpch_q4_order_priority" ->
      "Q4 shape: the correlated EXISTS is ONE left-semi hash join on the order key with the lateness residual evaluated on the joined row; the quarter range reaches PushedFilters on the orders scan.",
    "tpch_q13_customer_distribution" ->
      "Q13 shape: the only outer-join-aggregate — the exclusion filter lives on the orders BUILD side (the outer join stays outer), count(o_orderkey) zero-preserves, and the histogram is a second partial+final agg over customer-grain counts.",
    "tpch_q17_small_quantity" ->
      "Q17 shape: the correlated per-part AVG threshold decorrelates into one per-part aggregate joined back on the part key; the comparison is exact integers (5·qty·n < t); the part-type filter prunes before both the aggregate and the join.",
    "tpch_q22_global_sales" ->
      "Q22 shape: substring bucketing in the scan projection; the positive-balance average is a 1-row broadcast cross join (J9); NOT EXISTS is one left-anti hash join against the priority-pruned orders scan.",
    "tpch_q2_min_cost_supplier" ->
      "Q2 shape: correlated MIN decorrelates like Q17 — one (part,supplier) aggregate, one per-part min joined back, equality probe on identically-computed unit-price doubles; part filters prune the dimension first; top-100 is TakeOrderedAndProject.",
    "tpch_q7_nation_volume" ->
      "Q7 shape: the disjunctive cross-nation predicate evaluates as a residual AFTER the two broadcast nation joins (it cannot push into either scan); the ship-date range does push; one fact shuffle through the join chain.",
    "tpch_q8_market_share" ->
      "Q8 shape: the conditional-aggregate ratio computes in ONE pass over the 7-way join — numerator and denominator are twin exact-decimal sums in the same aggregate, the share one scan-stage division.",
    "tpch_q11_important_parts" ->
      "Q11 shape: global-share HAVING via two 1-row broadcasts (exact-decimal grand total from the base scan + part count from the aggregate's own grain); the per-part aggregate is checkpointed for its two consumers.",
    "tpch_q15_top_supplier" ->
      "Q15 shape: the per-supplier revenue aggregate materializes ONCE (checkpoint) and feeds both the 1-row broadcast max and the equality probe — never two fact scans.",
    "tpch_q16_supplier_parts" ->
      "Q16 shape: the NOT-IN exclusion decorrelates into one left-anti join BEFORE the distinct aggregate; part-attribute filters prune the dimension before the fact join; countDistinct partial-aggregates on (attrs, suppkey).",
    "tpch_q19_disjunctive_revenue" ->
      "Q19 shape: the OR-of-conjunctions over join-crossing attributes evaluates post-join while per-branch part predicates still prune; one exact-decimal sum out — no pivot, no union-of-branches re-scan.",
    "knn_graph_retrain_drift" ->
      "Retrain drift report: both graphs (fixed-quantizer append-composed, retrained rebuild) are the bounded IVF shape over checkpointed frames; churn/recall meet in id-keyed joins + 1-row aggregates; the exact-truth twin is the BLOCKED brute force (block-id replication, one block per side per task — nothing corpus-sized broadcasts).",
    "c4_line_doc_rules" ->
      "C4 rules: line keeps are map-side string predicates over the salted explode; doc bans and the ≥3-kept rule ride ONE doc-grain rollup that reassembles survivors byte-exactly — scan-bound, zero extra shuffles.",
    "video_scene_cuts" ->
      "Shot boundaries: consecutive-frame SAD computes INSIDE the typed decode kernel (payload binaries never shuffle — only compact diff rows reach the media-grain rollup); short clips surface zeroed via the left join.",
    "kneser_ney_bigram" ->
      "KN smoothing: ONE checkpointed bigram aggregate feeds the left marginal, continuation marginal, distinct-bigram total (1-row broadcast), and the final probe; the probability is a fixed parenthesized IEEE sequence over exact integers.",
    "mv_rewrite_rollup" ->
      "MV rewrite: the optimized plan must contain NO fact scan — the Aggregate retargeted onto the registered pre-aggregate (the in-plan require() makes a silent fallback fail the gate); residual key filter re-stated on the MV.",
    "suffix_array_build" ->
      "Prefix doubling: each round is one keyed self-join (rank at +2^k) + DenseId re-numbering (range shuffle, no global window); rounds stop when ranks go distinct — O(log L) worst case, ~5 on this corpus.",
    "suffix_lrs_topk" ->
      "Adjacent-LCP sparse table: per level two keyed lookups on the L-row pair frame against the retained round ranks — never a character walk; the 10-row top-k broadcast range-joins the char frame only to reconstruct the text.",
    "psm_att_estimate" ->
      "PSM: the greedy nearest-below match is ONE AsOfJoin (union + carry-forward window — a single exchange on the segment key, no range join); outcomes stay exact integers to the two final divisions.",
    "good_turing_vocab" ->
      "GT/Chao1: token counts → count-of-counts (two bounded aggregates); corpus constants ride 1-row broadcasts; every estimator is one division over exact integers.",
    "lpa_conductance" ->
      "Conductance: reuses modularity's degree agg + two label joins; the boundary cut is degree mass minus internal slots — NO extra join; one guarded division per community.",
    "mann_kendall_trend" ->
      "MK: day-grain consolidation FIRST; the 366-row pairwise self-join IS the statistic (bounded at any SF); ties/variance/z from exact integers through one division + one sqrt.",
    "theil_sen_slope" ->
      "Theil–Sen: bounded pairwise slopes (one division each), lower-median by exact rank selection under the total (slope, di, dj) order; intercept by the same selection over the day frame.",
    "dbscan_embedding_clusters" ->
      "DBSCAN: blocked exact ε-pairs (eval-class; production candidates ride IVF/LSH), core filter, pointer-jump CC on core-core edges, min-cluster border assignment, noise as a census row — every stage keyed on ids.",
    "conformal_forecast_interval" ->
      "Conformal: lag-7 residuals on the checkpointed day frame, exact integer rank for q̂, single coverage division; the 1-row q̂ broadcasts onto the test scan (J9).",
    "mef_star_dpp_prune" ->
      "Dynamic partition pruning over the persisted star lake: the fact scan's PartitionFilters must carry a dynamicpruningexpression fed by the filtered file-based spine — only the matched anio directory is read (the fn's require() gates it).",
    "mef_star_mv_month_rollup" ->
      "MEF monthly MV rewrite: the month rollup written against the parquet fact retargets onto the (anio, mes) pre-aggregate with SUM/COUNT/MIN/MAX partial derivation — no fact-path scan survives (plan-asserted).",
    "runtime_bloom_semijoin" ->
      "Runtime bloom filter: InjectRuntimeFilter pushes might_contain from the filtered dim onto the fact scan BEFORE the shuffle join — the non-partitioned sibling of DPP (thresholds pinned for the fixture; the require() gates the injection).",
    "dbscan_ivf_clusters" ->
      "Routed DBSCAN: ε-candidates from ONE equi-join on the IVF home-list id (ids-only; vectors re-attach for the exact-cosine verify), symmetrized; the census chain is shared with the exact eval form.",
    "cms_bigram_heavyhitters" ->
      "Count-min: the 4×64 counter table is one keyed aggregation over seeded md5 buckets; estimates probe it with an equi-join + min — the sketch is map-side mergeable at stream scale.",
    "hodges_lehmann_mad" ->
      "HL/MAD: day-grain consolidation first, bounded Walsh pairwise product, exact integer rank selections; the medians ride 1-row broadcasts (J9).",
    "knn_graph_capped" ->
      "Skew-capped kNN build: the candidate join keys on (list_id, shard) with probes fanned to every shard of each probed list — identical candidate set to the uncapped build, but no join key exceeds ~listCap corpus rows (the measured-size salt).",
    "mef_star_incremental_ytd" ->
      "YTD over a build+append star: the fact is a UNION of checkpointed delta scans (r12 delta-only appends — a load writes its delta, never rewrites the table), the sector dim broadcasts, one partial+final agg. Nothing in the plan re-derives either load's resolution subtree.",
    "ann_ivf_lake_topk" ->
      "Persisted-IVF serve path: the corpus side is the store's lists/ parquet scan (assignments never recomputed — embeddings.parquet appears only as the probe batch); probes fan via the broadcast centroid kernel; bounded-heap TopKPerGroup caps output.",
    "ann_rq_topk" ->
      "Residual-quantization ADC: corpus scan emits 2 codes map-side (RqCodes); the probe's combined-codebook table broadcasts; per-pair cost is ONE table lookup; vectors never shuffle — the PQ plan shape with a 256-entry M=1 table.",
    "ann_matryoshka_topk" ->
      "Prefix-dim shortlist (slice+VecDot in the scan stage, ids-only heap rows) → full vectors re-attach for probes×50 rows only → exact-cosine rerank in bounded heaps — the pq_rerank two-stage shape on a prefix slice.",
    "dedup_index_compact" ->
      "Probe over the COMPACTED index: both index datasets scan from the compacted parquet; the batch side broadcasts into candidate and verify joins (no index shuffle); the lifecycle's writes (build+3 appends+compact) happen before this plan — its ~6s iso band is the e2e fold cost, the probe itself is sub-second.",
    "rtbf_lsh_purge" ->
      "RTBF purge lifecycle on the LSH index: delete writes only the O(purges) tombstone set (idempotent key-upsert); compaction materializes the purge, so this post-compact probe plan is IDENTICAL to dedup_index_compact's — no tombstone join survives, victims are physically gone.",
    "rtbf_ann_lake_purge" ->
      "RTBF purge on the IVF vector lake: same lifecycle on the uncompressed-vector tier — the post-compact probe scans the purged lists/ parquet with the ann_ivf_lake_topk plan shape verbatim (broadcast centroid fan, ids+vectors equi-join on list_id, bounded-heap top-k); pre-compact probes would add one broadcast anti-join against the tombstone scan.",
    "mef_star_append_fold" ->
      "Three loads + a re-delivered batch deep: the final YTD plan reads the fact as build-fact ∪ delta₁ ∪ delta₂ ∪ delta₃(empty — the no-op re-delivery appended an empty checkpointed delta, costing one union node, no rewrite). Per-load internals (batch grain shuffle, 7 concurrent dim-delta anti-joins, fresh-fact anti-join) are lineage-truncated behind the checkpointed scans; at fixture scale the fold's cost is the fixed ~9-job floor per load (SCALE.md §Incremental loads).",
    "borda_fusion_suppliers" ->
      "Three DenseId rank assignments (range-partition + per-partition offsets — row_number with NO single-partition window) over the one supplier aggregate; N arrives as a broadcast 1-row cross join; final top-15 is TakeOrderedAndProject.",
    "histogram_selectivity_eval" ->
      "Equi-depth histogram via ExactNtile (distributed rank, broadcast 1-row N); the 16-row bounds frame and 3-row probe workload meet in bounded broadcast products; the exact-truth leg is the 3-probe broadcast filter over the value scan — the zone_map_pruning audit shape.",
    "rouge_recall_pairs" ->
      "Clipped n-gram overlap as (doc, gram)-keyed equi-joins: grams aggregate per document once, the ref→cand candidate join is an equi-join on (cand_id, gram) — no all-pairs stage; bigrams pair adjacent positions in a per-document window.",
    "audio_vad_segments" ->
      "Frame energies computed INSIDE the PCM decode kernel (payload bytes never shuffle — one clip row in, compact frame rows out); the voiced gate is an integer cross-multiply against the clip-mean join; runs group per-clip (gaps-and-islands window partitioned by media_id).",
    "consistent_hash_ring" ->
      "The 128-entry ring collects into ONE sorted broadcast array; every key's successor is a SearchSortedCount binary search — map-only in the scan stage (the BNLJ range-probe + min-agg form measured 4× slower); only the 8-server census shuffles.",
    "isotonic_calibration" ->
      "PAVA via the max-min closed form: the corpus pass is one bucket aggregate; the ≤55-interval products are bounded broadcast joins over the checkpointed 10-row bucket frame — no sequential pooling loop, no growing state.")

  /** Iterative/greedy flagships whose loops checkpoint per round, so
    * the final frame's plan is lineage-truncated: each section shows
    * the initial plans of the query's actions ([[capturePlans]]). The
    * note carries the loop invariant.
    */
  private val iterative = Seq(
    "bfs_hops_from_seeds" ->
      "The loop body (GraphOps.bfsHops): frontier-expansion equi-join on the checkpointed edge frame + distinct + anti-join against the checkpointed visited set. Loop invariant: per-round work is proportional to the FRONTIER (the join probe side), not the visited set; frontier and visited are localCheckpoint'ed each round because both feed two consumers (measured 2× iso win, CLAUDE.md).",
    "mst_trade_backbone" ->
      "The loop body (Mst.boruvka's pick round): two label equi-joins onto the once-checkpointed edge frame, symmetrized per-component frame, struct-min aggregate under the (w,u,v) total order, 2-cycle-collapsing distinct. Loop invariant: the component graph at least halves per round (O(log V) rounds); labels re-checkpoint per round; the 4-way graph build runs ONCE before the loop.",
    "kcenter_coreset" ->
      "One greedy round (distance to the new center + running-min): distances are a broadcast 1-row cross join with the codegen'd VecDot over the checkpointed quantized points; the running-min is one vec_id equi-join. Loop invariant: the min-distance frame re-checkpoints per round (linear lineage otherwise); each round collects the 1-row argmax (TakeOrderedAndProject, k=1).",
    "lpa_communities" ->
      "One semi-synchronous LPA half-step per checkpoint, run inside the lpaPartition artifact's build: edge⋈label equi-join + (node, label) count agg + struct-max argmax + left-join label update — all keyed on the node id. Loop invariant: labels checkpoint per phase (they feed the next phase's count join, the update base, and the round-end convergence probe); the probe is a limit-1 count per round and non-convergence throws.",
    "submodular_source_select" ->
      "One greedy round over the once-checkpointed (source, bigram) universe: marginal gains are a single anti-join against the checkpointed covered set + one source-grain count agg; the collected argmax is 1 row (TakeOrderedAndProject, k=1). Loop invariant: rounds are bounded (k≤5) and the covered set re-checkpoints per round so round r+1 never re-derives rounds 1..r; the loop breaks when the argmax frame is empty (universe exhausted).",
    "ppr_supplier_seeds" ->
      "Personalized PageRank over the preparedTradeEdges artifact's checkpointed (edge,deg) frame and the checkpointed seed-folded universe: ranks BROADCAST into the edge join (A/B'd — the O(nodes) rank frame never shuffles the O(edges) frame), one v-keyed agg for the damped mass, then the restart fold is a broadcast left-join onto the universe — the seed frame is joined ONCE before the loop (the re-join-seeds-per-round form measured 8.8 s vs 4.4-5.3 folded, CLAUDE.md). Loop invariant: k=5 rounds nest in the final plan, deliberately NO per-round checkpoint (A/B'd: AQE reuses the exchanges; checkpointing measured slower).",
    "semdedup_knn_clusters" ->
      "The kNN build is ONE ids-only equi-join on the IVF home-list id (each candidate pair arises once — no dedup stage) over the session-cached trained quantizer; the mutual-kNN reciprocation self-join on the checkpointed kNN edge frame feeds pointer-jump CC (O(log d) rounds). Loop invariant: CC labels checkpoint per round; the final census is one cluster-keyed agg + a left join for singleton clusters — nothing re-derives the routing.",
    "luby_mis_trade" ->
      "One Luby round on the checkpointed symmetric edge frame: losers = edges whose ACTIVE neighbor beats them on the fresh per-round (md5, id) strict order — one equi-join on v + a map-side priority compare — and winners = active ∖ losers via one anti-join. Loop invariant: winners and the shrinking active set checkpoint per round (each feeds ≥2 consumers: the output union, the neighborhood-retire join, the convergence probe); fresh per-round priorities give O(log n) expected rounds and non-convergence throws.",
    "greedy_matching_trade" ->
      "One matching round on the checkpointed live-edge frame: per-node min priority key is ONE union + ONE agg (the linear formulation — the per-edge NOT-EXISTS neighbor scan is quadratic), winners are two equi-joins back on u and v. Loop invariant: the globally minimal live edge always wins, so every round makes progress; live re-derives from the shrinking active set per round and checkpoints (it feeds the probe, the agg, and the winner join).")

  /** One distinct plan shape: how many actions ran it, the first such
    * action's name, and that action's formatted initial plan.
    */
  final case class PlanShape(runs: Int, action: String, plan: String)

  /** Runs `body` in a fresh session of `spark`, noop-writes its frame,
    * and returns the plan of every action the session ran, one
    * [[PlanShape]] per shape in the order it first ran. A shape is the
    * formatted plan with every digit run masked (expression and RDD
    * ids, per-round literals), so a loop body shows up as one shape
    * run once per round. An adaptive plan is recorded as AQE first
    * planned it ([[initialPlan]]): the final plan depends on which
    * query stage finished first, so it differs between runs. A fresh
    * session also rebuilds the session artifacts the body reads, so
    * loops inside artifact builds run here too.
    */
  def capturePlans(spark: SparkSession)(body: SparkSession => DataFrame): Seq[PlanShape] = {
    val s = spark.newSession()
    val runs = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = {
        runs.add(action -> qe)
        ()
      }
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    body(s).write.format("noop").mode("overwrite").save()
    ListenerBusDrain.drain(s.sparkContext)
    val shapes = mutable.LinkedHashMap.empty[String, PlanShape]
    runs.asScala.foreach { case (action, qe) =>
      val plan = initialPlan(qe)
      val key = plan.replaceAll("[0-9]+", "#")
      shapes(key) = shapes.get(key).fold(PlanShape(1, action, plan))(p => p.copy(runs = p.runs + 1))
    }
    shapes.values.toSeq
  }

  /** `qe`'s formatted physical plan before it ran. An adaptive plan
    * prints as an unexecuted adaptive node over its
    * `AdaptiveSparkPlanExec.initialPlan` (`isFinalPlan=false`).
    */
  private def initialPlan(qe: QueryExecution): String = qe.executedPlan match {
    case a: AdaptiveSparkPlanExec =>
      val sb = new StringBuilder("== Physical Plan ==\n")
      ExplainUtils.processPlan[SparkPlan](a.copy(inputPlan = a.initialPlan), s => { sb.append(s); () })
      sb.toString
    case _ => qe.explainString(FormattedMode)
  }

  /** `text` as PLANS.md prints it: Catalyst's expression ids (`#123`),
    * exchange plan ids (`plan_id=45`) and RDD ids (`RDD[67]`) renumbered
    * from 1 in first-seen order, each kind on its own counter; and the
    * names that differ per JVM masked: the bucketing section's random
    * temp dir, the pid in `TmpPaths` roots, object identity hashes
    * (`KmvSketch@6e29ff71`) and lambda class names; and the source
    * line of RDD call sites (`localCheckpoint at KnnGraph.scala:45`
    * prints as `localCheckpoint at KnnGraph.scala`). Raw ids count up
    * across a session, and call-site lines move with any edit above
    * them, so without this a regeneration moves sections whose query
    * did not change.
    */
  def stable(text: String): String = {
    val masked = text
      .replaceAll("plans_bucketing[0-9]+", "plans_bucketing")
      .replace(s"_${ProcessHandle.current().pid()}/", "_<pid>/")
      .replaceAll("\\$\\$Lambda\\$[0-9]+/0x[0-9a-f]+", "\\$\\$Lambda")
      .replaceAll("(?<=[\\w$])@[0-9a-f]{1,8}\\b", "@<hash>")
      .replaceAll("(?<=\\.scala):[0-9]+", "")
    Seq("#", "plan_id=", "RDD\\[").foldLeft(masked) { (t, prefix) =>
      val ids = mutable.HashMap.empty[String, Int]
      s"($prefix)([0-9]+)".r.replaceAllIn(t, m =>
        java.util.regex.Matcher.quoteReplacement(
          m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1)))
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("8")
    val dir = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of flagship queries (sf0.01)\n\n")
    sb.append("Generated by `sbt \"runMain graft.Explain\"`. See SCALE.md for the\n")
    sb.append("design rationale each plan is evidence for.\n")
    // every section goes through here, so its ids count from 1
    def section(text: String): Unit = { sb.append(stable(text)); () }
    audited.foreach { case (name, note) =>
      section(s"\n## $name\n\n$note\n\n```\n" +
        SparkEntry.queries(name)(spark, dir).queryExecution.explainString(FormattedMode) +
        "```\n")
    }
    // Iterative/greedy flagships: loops with per-round checkpoints
    // can't be EXPLAIN'd whole (the final frame is lineage-truncated),
    // so each section shows the plans of the query's own actions.
    iterative.foreach { case (name, note) =>
      val shapes = capturePlans(spark)(s => SparkEntry.queries(name)(s, dir))
      section(s"\n## $name (captured)\n\n$note\n\n" +
        s"Initial plans of the actions the `SparkEntry` query `$name` ran in a fresh " +
        s"session, one per distinct shape, in the order first run (${shapes.map(_.runs).sum} actions, " +
        s"${shapes.size} shapes).\n" +
        shapes.zipWithIndex.map { case (p, i) =>
          s"\n### ${i + 1}. ran ${p.runs}× (first as `${p.action}`)\n\n```\n${p.plan}```\n"
        }.mkString)
    }
    // Not a SparkEntry query: the optimizer-rule rewrite demo. The
    // user-stated predicate is year(l_shipdate) = 1997 — the plan must
    // show a pushed range on the raw column instead.
    section("\n## SargableTimeRewrite (optimizer rule)\n\n" +
      "`WHERE year(l_shipdate) = 1997` as stated by the user; the rule\n" +
      "rewrites it to a half-open date range so PushedFilters sees it.\n\n```\n" +
      Tables.lineitem(spark, dir)
        .filter(org.apache.spark.sql.functions.expr("year(l_shipdate) = 1997"))
        .queryExecution.explainString(FormattedMode) +
      "```\n")
    // Also not a SparkEntry query: the bucketed-table co-located join
    // (write-time layout, so it needs tables written first). The plan
    // must show SortMergeJoin over two bucketed scans with NO Exchange
    // and NO Sort on either side.
    val bktDir = Files.createTempDirectory("plans_bucketing").toString
    sources.Bucketing.writeBucketed(
      Tables.orders(spark, dir), "plans_bk_orders", s"$bktDir/orders",
      8, Seq("o_orderkey"))
    sources.Bucketing.writeBucketed(
      Tables.lineitem(spark, dir), "plans_bk_lineitem", s"$bktDir/lineitem",
      8, Seq("l_orderkey"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    section("\n## Bucketing (co-located join)\n\n" +
      "orders and lineitem bucketed 8× on the order key\n" +
      "(`sources.Bucketing.writeBucketed`): the join plans with no\n" +
      "exchange and no sort — the write-time layout replaces both.\n\n```\n" +
      sources.Bucketing.read(spark, "plans_bk_orders")
        .join(sources.Bucketing.read(spark, "plans_bk_lineitem"),
          org.apache.spark.sql.functions.col("o_orderkey") ===
            org.apache.spark.sql.functions.col("l_orderkey"))
        .queryExecution.explainString(FormattedMode) +
      "```\n")
    // Skew evidence for the star grain consolidation: one supplier key
    // remapped onto ~half of all rows. The plan's partial HashAggregate
    // BEFORE the exchange is the defense — the hot key compresses
    // inside every map task, so the reducer sees O(tasks) sub-rows per
    // grain, not O(rows). Measured at sf0.1: plain == salted within
    // noise (StarSkewSpec; SCALE.md §Warehouse build).
    section("\n## Star grain consolidation under a 50% hot key\n\n" +
      "Supplier 1 carries ~half of the fixture; the partial aggregate\n" +
      "before the single exchange makes the plain groupBy skew-immune\n" +
      "for decomposable measures (A/B'd vs SaltedAgg: no crossover).\n\n```\n" + {
        import org.apache.spark.sql.functions._
        Tables.lineitem(spark, dir)
          .withColumn("l_suppkey",
            when(pmod(col("l_orderkey"), lit(2)) === 0, lit(1).cast("long"))
              .otherwise(col("l_suppkey")))
          .groupBy(col("l_suppkey"), month(col("l_shipdate")).as("mes"))
          .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"))
          .queryExecution.explainString(FormattedMode)
      } +
      "```\n")
    // AQE skew-join evidence (EXECUTED plan — the split is a runtime
    // re-plan, so the query must run first): the same 50% hot key on
    // a join too big to broadcast. Thresholds are scaled to fixture
    // bytes (production defaults: 256MB/64MB); the mechanism is
    // byte-threshold-relative, identical at 100 TB. AqeSkewJoinSpec
    // asserts this fires; here is the plan it asserts on.
    section("\n## AQE skew-join split (executed adaptive plan)\n\n" +
      "Hot key ~90% of the probe side, broadcast disabled, skew\n" +
      "thresholds at fixture scale: the executed SortMergeJoin shows\n" +
      "`skew=true` — AQE split the hot partition at runtime.\n\n```\n" + {
        import org.apache.spark.sql.functions._
        Seq("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
          .foreach { case (k, v) => spark.conf.set(k, v) }
        val left = spark.range(200000).select(
          when(pmod(col("id"), lit(10)) =!= 0, lit(1L)).otherwise(col("id")).as("k"),
          col("id").as("payload"))
        val right = spark.range(100000).select(col("id").as("k"), (col("id") * 2).as("r"))
        val joined = left.join(right, "k")
        // collect() (not count()) so THIS queryExecution finalizes —
        // the skew split is a runtime re-plan
        joined.collect()
        joined.queryExecution.explainString(FormattedMode)
      } +
      "```\n")
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[explain] wrote PLANS.md (${audited.size + iterative.size + 4} sections)")
    spark.stop()
  }
}
