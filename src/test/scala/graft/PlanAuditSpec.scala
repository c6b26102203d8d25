package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Catalog-wide physical-plan audit: walks every registered query's
  * executed plan and asserts the scale invariants the 100 TB design
  * depends on — no cartesian products and no unpartitioned windows
  * except where a named, justified exception is recorded below.
  *
  * The exception maps are part of the contract: an entry that stops
  * matching FAILS the audit too, so the list can't rot into a blanket
  * waiver. A new offender shows up with its query name and node, and
  * must either be fixed or argued into the map with a justification.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  /** Flatten to physical nodes, descending into AQE roots and subquery
    * plans (correlated scalars carry their own plan trees). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** No query may plan a CartesianProduct, period — even the all-pairs
    * baselines broadcast one side instead. */
  private val cartesianOk: Map[String, String] = Map.empty

  /** Broadcast nested-loop is acceptable only when the broadcast side is
    * constant w.r.t. corpus size (a 1-row grand total, a model-sized
    * codebook, a fixed probe set) — the loop is then k*n, not n^2 — or
    * in q44, the deliberately quadratic, bench-excluded cosine baseline. */
  private val bnljOk: Map[String, String] = Map(
    "q44_embed_neardup" -> "all-pairs cosine verification baseline oracling LSH q50/q52 (bench-excluded)",
    "q37_knn_brute" -> "fixed probe set broadcast against corpus: the documented brute-force ANN baseline (k*n)",
    "q61_knn_sq8" -> "fixed probe set x SQ8 corpus scan: broadcast side is the query batch (constant)",
    "q64_knn_pq" -> "PQ codebook-as-literals rerank: broadcast side is the model (constant)",
    "q66_mixture_report" -> "1-row grand-total broadcast for mixture shares",
    "q72_mixture_weights" -> "1-row normalizer broadcast",
    "q358_doremi_reweight" -> "1-row reference-loss + 1-row weight-normalizer scalar broadcasts onto the 20-row source registry (q66/q72 class)",
    "q360_greedy_coverage" -> "1-row vocab-total scalar broadcast onto the 4-row step frame (q300 class)",
    "q368_dedup_threshold_sweep" -> "constant 5-row threshold-grid range join (q297/q321 class) + the 1-row corpus-token-total scalar broadcast",
    "q73_unigram_logprob" -> "1-row corpus-token-total broadcast",
    "q137_split_parity" -> "1-row corpus-doc-total broadcast onto the registry-sized (split, lang) frame",
    "q292_mutual_information" -> "1-row total + 1-row marginal-entropy broadcasts onto the registry-squared contingency frame",
    // q295/q322 iterate on the driver below CorpusOps.boundedRows (the
    // q193-family two-path design) — their BNLJ allowances applied to
    // the distributed fallback, which no longer plans at audit SF
    "q296_transitivity_audit" -> "1-row pair-count + hub-count scalar broadcasts onto the 1-row wedge rollup",
    "q297_exponential_qq" -> "constant 9-row exponential-decile frame broadcast over the bounded gap-minute grid (q110 argument)",
    "q298_haar_energy" -> "constant 32-day grid + 5-level wavelet frame broadcasts onto the registry-sized series (grid build and decomposition, all constant-size sides)",
    "q299_isotonic_calibration" -> "<= 10-row decile frame triangle joins (55 intervals) for the order-free PAV minimax — all constant-size sides",
    "q300_kcenter_seeds" -> "<= 4-row center-frame broadcast per round (k*n scan, q37 shape) + 1-row radius broadcasts",
    "q301_heldout_perplexity" -> "1-row train-LM (N, V) broadcast onto the vocabulary-keyed eval frame",
    "q305_backoff_xent" -> "1-row train-LM (N, V) broadcast onto the bigram-vocabulary-keyed eval frame (q301 class)",
    "q348_important_parts" -> "1-row (total, n_parts) scalar broadcast onto the part-sized value frame (q66 class)",
    "q354_fdr_gate" -> "1-row corpus-moments (N, S, Q) scalar broadcast onto the source registry frame (q66 class)",
    "q306_truncation_tau" -> "constant-3 probe batch broadcast against the corpus (k*n scan, q37/q141 shape)",
    "q310_result_diversity" -> "constant-3 probe batch broadcast against the corpus (k*n scan, q37/q141 shape)",
    "q311_sequential_probe" -> "1-row look-count broadcast onto the bounded calendar-grid look frame",
    "q314_gains_table" -> "1-row totals + constant 10-row decile frame broadcasts onto the bounded score grid (q217 class)",
    "q315_cuped" -> "1-row arm-gap broadcast onto the 1-row moment rollup",
    "q318_rfm_segments" -> "1-row tercile-threshold and user-total broadcasts onto the per-user frame and the bounded value grids",
    "q319_gini_stump" -> "1-row (n, k) totals broadcast onto the bounded length grid",
    "q320_calibration_slope" -> "1-row logit-sum broadcast onto the 1-row OLS rollup (<= 10-bin frame)",
    "q321_bloom_advisor" -> "constant 3-row FPR frame broadcast onto the source registry",
    "q324_consistent_hashing" -> "constant 256-row ring broadcast: successor inequality join + point->node lookup (bounded fan-out)",
    "q325_feature_hashing" -> "constant 3-row bucket-size frame broadcast onto the vocabulary frame",
    "q326_hash_uniformity" -> "1-row total broadcast onto the constant 64-bucket frame",
    "q329_rebalance_churn" -> "constant 256/288-row ring broadcasts: successor inequality joins (q324 class)",
    "q330_diff_in_diff" -> "1-row pretrend-gap broadcast onto the 1-row DiD cell rollup",
    "q108_tfidf_keywords" -> "1-row corpus-doc-count broadcast for idf",
    "q110_quantile_sketch" -> "constant 4-row quantile-list broadcast",
    "q112_bm25_retrieval" -> "1-row corpus-stats (N, avgdl) broadcast",
    "q121_collocations" -> "1-row bigram-total broadcast for PMI",
    "q124_mg_heavy_hitters" -> "1-row (sketch, total) broadcast against the 10-row probe set",
    "q125_term_drift" -> "1-row cohort-totals broadcast for the log-odds prior",
    "q102_bigram_logprob" -> "1-row corpus-total broadcast",
    "q87_hll_relational" -> "1-row register-mass/cardinality broadcast",
    "q95_histogram" -> "1-row min/max bounds broadcast for bucket width",
    "q92_idle_rich_customers" -> "1-row scalar threshold (avg balance) broadcast",
    "q141_hard_negatives" -> "fixed anchor batch broadcast against the corpus: the k*n hard-negative scan (q37 shape)",
    "q143_ks_drift" -> "registry-sized per-source totals + 1-row corpus total fanned over the bounded distinct-value grid",
    "q145_distribution_match" -> "1-row corpus total broadcast onto the language-registry share frame",
    "q146_rare_group_suppress" -> "1-row corpus total broadcast onto the bounded distinct-length octile frame",
    "q148_shard_balance" -> "1-row token-total broadcast onto the constant 8-row shard frame",
    "q153_group_folds" -> "1-row token-total + 1-row leak-gate broadcasts onto the 5-row fold frame",
    "q156_heaps_growth" -> "1-row max-doc-id broadcast onto the vocabulary first-seen frame and the doc frame (checkpoint thresholds)",
    "q159_join_size_sketch" -> "1-row sketch-estimate broadcast onto the 1-row exact frame (both scalar aggs)",
    "q166_budget_apportion" -> "1-row token-total + 1-row leftover broadcasts onto the language-registry frame",
    "q170_quantile_normalize" -> "1-row corpus-count broadcast onto the distinct-qmilli grid (value-domain bounded)",
    "q172_skipgram_ppmi" -> "1-row pair-total broadcast for the PMI normalizer",
    "q173_basket_lift" -> "1-row order-total broadcast onto the <= 100-row part-class pair frame",
    "q188_file_prune_stats" -> "1-row corpus min/max broadcast for the range-layout width and predicate bounds",
    "q191_rrf_fusion" -> "constant 2-query probe set broadcast against the corpus (dense k*n scan, q37 class) + 1-row corpus-stats (N, avgdl) broadcasts on the BM25 side (q112 class)",
    "q196_variance_alloc" -> "1-row weight-total + 1-row leftover broadcasts onto the language-registry frame (q166 class)",
    "q202_information_value" -> "1-row good/bad-total broadcasts onto the lang- and source-registry bin frames",
    "q207_source_kl" -> "1-row corpus-token-total broadcast for the KL log-ratio (q73 class)",
    "q211_purged_folds" -> "1-row min/max day bounds broadcast for the fold-boundary interpolation (q95 class)",
    "q212_knn_label_noise" -> "constant probe batch (vec_id < 100) broadcast against the corpus: the q37 k*n scan",
    "q221_ann_recall" -> "brute-force ground-truth side: constant probe batch (vec_id < 50) broadcast against the corpus (q37 class)",
    "q223_ndcg_eval" -> "1-row corpus-stats (N, avgdl) broadcasts for the BM25 score (q112 class)",
    "q278_loo_target_encoding" -> "1-row global-mean broadcast crossed onto the event stream (q92 scalar-threshold class)",
    "q279_psi_drift" -> "constant 9-rank and 10-bin literal frames crossed onto the value-domain grid / type registry (q110 constant-list class)",
    "q281_simpsons_paradox" -> "1-row pooled-slope broadcast onto the type-registry slope frame (q92 scalar-threshold class)",
    "q282_lognormal_qq" -> "constant 9-row z-literal frame crossed onto the bounded log-length grid (q279/q110 constant-list class)",
    "q285_transition_times" -> "2-row literal percentile frame crossed onto the bounded minute grid (q229 class)",
    "q224_importance_ess" -> "1-row (corpus total, lang count) broadcast onto the per-doc weight frame",
    "q226_loo_dedup_value" -> "1-row corpus dup/doc totals broadcast onto the source-registry LOO frame",
    "q228_ucb_readout" -> "1-row total-pulls broadcast onto the arm registry",
    "q235_bloom_fpr_audit" -> "constant 32-word bloom broadcasts (q81 class) + 1-row bits-set/member-count broadcasts onto the 1-row rollup",
    "q238_negative_sampling" -> "1-row weight-total + 1-row leftover broadcasts onto the bounded frequency-class grid (q166/q196 class)",
    "q239_session_entropy" -> "1-row grand-total broadcast onto the state registry",
    "q370_band_gate_fp" -> "1-row corpus-doc-count broadcast x 1-row held/fp summary agg (scalar aggs, q159 class)",
    "q241_hazard_curve" -> "1-row observation-horizon broadcast onto the per-user exit frame",
    "q240_join_order_advisor" -> "all sides are scalar count aggs / literal order frames (1-row each) — the advised join never runs",
    "q236_hill_tail_index" -> "1-row k-cutoff frame inequality-joined to the bounded frequency-class grid (q227 class)",
    "q229_conversion_latency" -> "3-row literal percentile frame inequality-joined to the bounded minute grid (q217/q227 class)",
    "q227_vocab_coverage" -> "3-row literal budget frame inequality-joined to the bounded frequency-class grid (q217 class) + 1-row totals broadcast",
    "q214_delete_impact" -> "1-row deleted-count x 1-row total-count frames per table (scalar aggs, q159 class)",
    "q215_salt_advisor" -> "1-row event-total broadcast onto the key-registry count frame",
    "q217_threshold_sweep" -> "literal 4-row threshold frame inequality-joined against <= 4-row hamming histograms (all bounded local/registry frames)",
    "q220_quality_scorecard" -> "1-row corpus-token-total (KL normalizer, q207 class) + 1-row corpus-mean-length broadcasts onto the source registry",
    "q243_wasserstein_drift" -> "registry-sized per-source totals + 1-row corpus total fanned over the bounded distinct-value grid (q143 class)",
    "q245_kmv_sketch" -> "1-row merged-sketch stats x 1-row exact-distinct frames (scalar aggs, q159 class)",
    "q246_changepoint" -> "1-row max-day + 1-row flat-fit broadcasts; candidate x daily-grid BNLJ where BOTH sides are the value-domain-bounded day grid (q110 argument)",
    "q254_time_decay" -> "1-row horizon (max day) broadcast onto the event stream (q241 class)",
    "q255_dau_wau" -> "rolling-window range join against the value-domain-bounded day grid (<= 7x fan-out per distinct (day, user) row, q110 argument)",
    "q257_mannwhitney" -> "1-row corpus-count broadcast onto the per-(source, length) frame (q143 class)",
    "q258_lorenz_deciles" -> "literal 10-row decile frame inequality-joined to the value-domain-bounded length grid (q217/q227 class) + 1-row totals broadcast",
    "q260_reciprocity" -> "1-row edge-count x 1-row reciprocal-count frames (scalar aggs, q159 class)",
    "q251_js_divergence" -> "1-row corpus-token-total broadcast for the JS log-ratio and the out-of-vocabulary mass term (q207 class)",
    "q252_brier_decomp" -> "1-row global (N, label-total, squared-error-total) broadcast onto the <= 10-row decile-bucket frame",
    "q263_autocorrelation" -> "literal 7-row lag frame x registry-sized per-type variance frame (both bounded, q217 class)",
    "q264_aa_test" -> "1-row arm-A x 1-row arm-B metric frames (scalar slices of the 2-row arm rollup, q159 class)",
    "q266_chi2_independence" -> "1-row totals (T, |langs|, |sources|) broadcast onto the registry-squared contingency table",
    "q269_kmv_overlap" -> "1-row sketch-membership stats x 1-row exact-overlap frames (scalar aggs, q159/q245 class)",
  )

  /** Unpartitioned windows allowed only over provably bounded inputs.
    * (q79/q86's former global top-K windows were rebuilt on
    * per-partition prefilters + bounded finals in round 7.) */
  private val globalWindowOk: Map[String, String] = Map(
    "q75_budget_select" -> "running sum over the <=1001-row quality-bucket histogram (doc-level window is bucket-partitioned)",
    "q360_greedy_coverage" -> "running coverage sum over the 4-row step frame (k rows by construction)",
    "q354_fdr_gate" -> "BH rank / m / step-up windows over the SOURCE REGISTRY frame (~20 rows at any corpus size), after one map-side-combined source agg",
    "q143_ks_drift" -> "global CDF cum over DISTINCT token counts — bounded by the value domain (max doc length), not the corpus (q110 argument)",
    "q145_distribution_match" -> "row_number over the language-registry share frame (bounded registry)",
    "q146_rare_group_suppress" -> "octile cum over DISTINCT token counts — value-domain bounded (q110 argument), appears in both the build and lookup branches",
    "q152_dense_ids" -> "cumulative offsets over the one-count-per-partition frame — bounded by the partition-count knob, never the corpus",
    "q161_pareto_skyline" -> "running max over the DISTINCT token-count grid — value-domain bounded (q110 argument), never the corpus",
    "q165_rbo_rankings" -> "cumulative overlap over the literal 100-row depth grid (both rankings already prefiltered to <= 100 rows via TopKPerKeyExec)",
    "q166_budget_apportion" -> "largest-remainder rank over the language-registry frame (bounded registry)",
    "q170_quantile_normalize" -> "quantile-function cum/lag over the DISTINCT qmilli grid — value-domain bounded (<= 1001 rows by construction, q110 argument)",
    "q181_skew_report" -> "cum/total windows over the DISTINCT per-key-frequency grid — value-domain bounded (q110 argument), never key-cardinality rows",
    "q185_lateness_histogram" -> "cum/total windows over the <= 61-row capped lateness-minute bucket grid",
    "q196_variance_alloc" -> "largest-remainder rank over the language-registry frame (bounded registry, q166 class)",
    "q302_quality_auc" -> "doubled-rank cum over the DISTINCT quality-milli grid — value-domain bounded (<= 1001 rows by construction, q110/q170 argument)",
    "q311_sequential_probe" -> "cumulative-look windows over the DISTINCT day grid — calendar-bounded (q110 argument), never event-cardinality rows",
    "q314_gains_table" -> "descending cum over the DISTINCT quality-milli grid — value-domain bounded (<= 1001 rows, q110/q302 argument)",
    "q331_average_precision" -> "descending cum over the DISTINCT quality-milli grid — value-domain bounded (<= 1001 rows, q110/q302 argument)",
    "q318_rfm_segments" -> "tercile cums over the DISTINCT recency/frequency/monetary value grids — value-domain bounded (q110 argument)",
    "q319_gini_stump" -> "split-sweep cum over the DISTINCT length grid — value-domain bounded (q110 argument)",
    "q216_watermark_advisor" -> "cum/total windows over the <= 61-row capped lateness-minute bucket grid (q185 class)",
    "q227_vocab_coverage" -> "cumulative types/mass over the DISTINCT token-frequency class grid — value-domain bounded (q110/q181 argument), never vocabulary cardinality",
    "q236_hill_tail_index" -> "cumulative types over the DISTINCT token-frequency class grid (q227 class — value-domain bounded)",
    "q238_negative_sampling" -> "largest-remainder rank over the DISTINCT token-frequency class grid (q166 method on the q227 grid — value-domain bounded)",
    "q241_hazard_curve" -> "reverse/forward cumulative sums over the DISTINCT lifetime-offset grid — value-domain bounded by the observation window (q110 argument)",
    "q243_wasserstein_drift" -> "global CDF cum + gap lead over DISTINCT token counts — value-domain bounded (q143 class)",
    "q257_mannwhitney" -> "global rank cum over DISTINCT token counts — value-domain bounded (q143 class)",
    "q258_lorenz_deciles" -> "doc/token cum windows over DISTINCT token counts — value-domain bounded (q143 class)",
    "q265_spearman" -> "rank cum windows over the DISTINCT token-count and quality-milli grids — value-domain bounded (q143/q170 class)",
  )

  /** broadcast() HINT audit (the q54 class): a hint pins its side into
    * the driver + every executor regardless of size, so a hinted
    * subtree must be provably bounded. Auto-classified as bounded:
    * no base-relation scan at all (literal/local frames), an explicit
    * limit, or a scalar (no-grouping) aggregate. Everything else needs
    * a named justification below — grouped aggregates are NOT auto-ok
    * because a groupBy on a corpus-cardinality key (e.g. distinct
    * shingles) grows with the data. */
  private val broadcastHintOk: Map[String, String] = Map(
    "q03_join_agg" -> "nation (25 rows) + region (5 rows): fixed TPC-H dimension tables",
    "q09_parent_lookup" -> "region dimension (5 rows)",
    "q10_point_lookup" -> "nation dimension filtered to one region (<= 25 rows)",
    "q37_knn_brute" -> "query batch: vec_id < 20 constant probe set",
    "q300_kcenter_seeds" -> "center frame: one key-filtered seed row unioned with three limit-1 argmin rows — <= 4 rows by construction at any corpus size",
    "q306_truncation_tau" -> "probe batch: vec_id < 3 constant probe set (q37 class)",
    "q310_result_diversity" -> "probe batch: vec_id < 3 constant probe set (q37 class)",
    "q61_knn_sq8" -> "query batch (vec_id < 10) + dim-range model (64 rows)",
    "q64_knn_pq" -> "query batch (vec_id < 10) + PQ anchor rows (16)",
    "q68_knn_ivfpq" -> "query batch (vec_id < 10) + coarse/PQ model frames (sqrt-n / 16 rows)",
    "q75_budget_select" -> "per-quality-bucket priors: qb in [0, 1000] — <= 1001 rows by construction",
    "q79_vocab_oov" -> "top-50 vocabulary from bucketed-prefilter top-K: constant k rows",
    "q357_kmeans_lloyd" -> "centroid frames: the key-filtered seed slice and the M-step (cid, dim) agg grid — both k x 64 rows, model-sized at any corpus size (q123 class)",
    "q358_doremi_reweight" -> "top-256 vocabulary from bucketed-prefilter top-K: constant k rows (q79 class)",
    "q81_bloom_decontam" -> "bloom words (1024/32 = 32 rows, x3 probes); the benchmark-fingerprint join is unhinted (AQE-adjudicated)",
    "q83_topp_select" -> "per-(stratum, permille-bucket) priors + per-stratum totals: langs x 1000 cap",
    "q91_regional_revenue" -> "nation + region dimension tables",
    "q333_mincost_supplier" -> "nation + region dimension tables; the LARGE part slice is runtime-guarded by boundedBroadcast (q101 class)",
    "q336_market_share" -> "nation (x2 aliases) + region dimension tables",
    "q340_returned_items" -> "nation dimension table",
    "q347_profit_by_nation" -> "nation dimension table; the supplier-nation map is runtime-guarded by boundedBroadcast (q333 class)",
    "q348_important_parts" -> "nation dimension (filtered to one row); the one-nation supplier slice is runtime-guarded by boundedBroadcast; the 1-row total auto-classifies as a scalar agg",
    "q92_idle_rich_customers" -> "nation dimension (the avg-balance scalar auto-classifies)",
    "q99_source_overlap" -> "per-source vocab sizes: groupBy source (bounded source registry)",
    "q101_sorted_neighborhood" -> "SNM hot-prefix set: runtime-guarded by boundedBroadcast (<= n/blockCap rows under the cap)",
    "q112_bm25_retrieval" -> "query-term set of the 3 seed docs: doc-bounded, not corpus-growing",
    "q80_adaptive_threshold" -> "per-lang quality stats: groupBy lang (bounded language registry)",
    "q86_countmin_freq" -> "count-min sketch: groupBy (j, b) over the fixed 3x256 hash range — 768 rows at any corpus size",
    "q110_quantile_sketch" -> "targets + approx frames: langs x 4 quantile rows each",
    "q123_nearest_centroid" -> "centroid matrix from the label x dim agg: model-sized (labels x 64)",
    "q141_hard_negatives" -> "anchor batch: doc_id IN (8 literal ids) — constant probe set (q37 class)",
    "q143_ks_drift" -> "per-source doc totals: groupBy source (bounded source registry, q99 class) + the scalar corpus total",
    "q149_bloom_join_prune" -> "bloom filter words: groupBy (p div 32) over the fixed 1024-bit range — 32 rows at any corpus size (q86/q81 class), x3 probes",
    "q152_dense_ids" -> "per-partition offsets: groupBy spark_partition_id() — one row per partition (a deployment knob), never corpus-proportional",
    "q191_rrf_fusion" -> "query-embedding batch (doc_id IN 2 literal ids — q141 class) + the query-term set of those 2 docs (doc-bounded, q112 class)",
    "q212_knn_label_noise" -> "probe batch: vec_id < 100 constant probe set (q37 class)",
    "q221_ann_recall" -> "probe batch: vec_id < 50 constant probe set (q37 class)",
    "q271_dominant_supplier" -> "nation dimension table (25 rows, q91 class)",
    "q282_lognormal_qq" -> "per-source moment fit: groupBy source (bounded source registry, q99/q143 class)",
    "q278_loo_target_encoding" -> "per-category target stats: groupBy event_type (bounded type registry, q99/q143 class)",
    "q279_psi_drift" -> "decile thresholds: groupBy (event_type, k<=9) — type registry x 9 rows (q110 class)",
    "q223_ndcg_eval" -> "query-term set of the 3 seed docs: doc-bounded, not corpus-growing (q112 class)",
    "q235_bloom_fpr_audit" -> "bloom words (1024/32 = 32 rows, x3 probes): groupBy over the fixed 1024-bit range (q81 class)",
    "q243_wasserstein_drift" -> "per-source doc totals: groupBy source (bounded source registry, q143 class) + the scalar corpus total",
    "q244_theilsen_trend" -> "per-type pair/day counts: groupBy event_type (bounded event-type registry)",
    "q245_kmv_sketch" -> "per-type exact distincts: groupBy event_type (bounded event-type registry)",
    "q246_changepoint" -> "daily count grid: groupBy day — value-domain bounded by the observation window (q110 argument), never the corpus",
    "q249_sequence_anomaly" -> "transition NLL model: groupBy (from_type, to_type) — |event types|^2 rows, a constant registry square",
    "q255_dau_wau" -> "day grid: DISTINCT day — value-domain bounded by the observation window (q110/q246 argument), never the corpus",
    "q258_lorenz_deciles" -> "length grid: groupBy token count — value-domain bounded (q110 argument), never the corpus",
    "q261_fisher_ratio" -> "global per-dim means: groupBy dim index — constant 64 rows at any corpus size",
    "q263_autocorrelation" -> "per-type mean/variance frames: groupBy event_type (bounded event-type registry)",
    "q265_spearman" -> "rank grids: groupBy token-count / quality-milli — value-domain bounded (q110 argument; quality <= 1001 values)",
    "q266_chi2_independence" -> "margins: groupBy lang / source (bounded registries, q99 class)",
    "q267_winsorized_mean" -> "per-source totals + P5/P95 threshold frames: groupBy source over the value-domain grid (bounded registry, q99/q143 class)",
  )

  test("catalog-wide plan audit: cartesian/BNLJ/global-window invariants") {
    val offendersCartesian = scala.collection.mutable.ListBuffer.empty[String]
    val offendersBnlj = scala.collection.mutable.ListBuffer.empty[String]
    val offendersWindow = scala.collection.mutable.ListBuffer.empty[String]
    val hitCartesian = scala.collection.mutable.Set.empty[String]
    val hitBnlj = scala.collection.mutable.Set.empty[String]
    val hitWindow = scala.collection.mutable.Set.empty[String]

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, run) =>
      val plan = run(spark, sf).queryExecution.executedPlan
      val ns = nodes(plan)
      ns.foreach {
        case _: CartesianProductExec =>
          if (cartesianOk.contains(name)) hitCartesian += name
          else offendersCartesian += name
        case _: BroadcastNestedLoopJoinExec =>
          if (bnljOk.contains(name)) hitBnlj += name
          else offendersBnlj += name
        case w: WindowExec if w.partitionSpec.isEmpty =>
          if (globalWindowOk.contains(name)) hitWindow += name
          else offendersWindow += name
        case _ =>
      }
    }

    assert(offendersCartesian.isEmpty,
      s"undocumented CartesianProduct in: ${offendersCartesian.distinct.mkString(", ")}")
    assert(offendersBnlj.isEmpty,
      s"undocumented BroadcastNestedLoopJoin in: ${offendersBnlj.distinct.mkString(", ")}")
    assert(offendersWindow.isEmpty,
      s"undocumented unpartitioned Window in: ${offendersWindow.distinct.mkString(", ")}")
    // stale-waiver guard: every recorded exception must still be real
    assert(hitCartesian == cartesianOk.keySet,
      s"stale cartesianOk entries: ${(cartesianOk.keySet -- hitCartesian).mkString(", ")}")
    assert(hitBnlj == bnljOk.keySet,
      s"stale bnljOk entries: ${(bnljOk.keySet -- hitBnlj).mkString(", ")}")
    assert(hitWindow == globalWindowOk.keySet,
      s"stale globalWindowOk entries: ${(globalWindowOk.keySet -- hitWindow).mkString(", ")}")
  }

  test("broadcast() hints never pin an unbounded corpus-growing side") {
    import org.apache.spark.sql.catalyst.plans.logical._
    def hasNode(p: LogicalPlan, f: LogicalPlan => Boolean): Boolean =
      p.collectFirst { case n if f(n) => n }.isDefined
    /** bounded w.r.t. corpus size, statically provable */
    def bounded(p: LogicalPlan): Boolean = {
      val scans = !hasNode(p, {
        case _: LocalRelation | _: OneRowRelation | _: Range => false
        case l: LeafNode => true
        case _ => false
      })
      scans || // no base-relation scan: literal/local frame
        hasNode(p, {
          case _: GlobalLimit | _: LocalLimit | _: Sample => true
          case a: Aggregate if a.groupingExpressions.isEmpty => true
          case _ => false
        })
    }
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    val hit = scala.collection.mutable.Set.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, run) =>
      val analyzed = run(spark, sf).queryExecution.analyzed
      val hinted = analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h.child
      } ++ analyzed.subqueries.flatMap(_.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h.child
      })
      hinted.foreach { side =>
        if (!bounded(side)) {
          if (broadcastHintOk.contains(name)) hit += name
          else offenders += name
        }
      }
    }
    assert(offenders.isEmpty,
      s"broadcast() hint over a statically-unbounded side in: ${offenders.distinct.mkString(", ")} — " +
        "bound it (limit / scalar agg / boundedBroadcast) or justify it in broadcastHintOk")
    assert(hit == broadcastHintOk.keySet,
      s"stale broadcastHintOk entries: ${(broadcastHintOk.keySet -- hit).mkString(", ")}")
  }

  /** Self-joined expensive subplans must be cache-backed (round-9
    * VERDICT #1/#3): the banding/LSH families feed BOTH sides of a
    * candidate equi-join with DIFFERENT projections of one frame, so
    * Catalyst's ReuseExchange cannot canonicalize the two exchanges —
    * without a persist the whole upstream (scan → explode → agg) runs
    * once per consumer, and under full-catalog memory pressure the
    * driver bench measured that recompute at up to 8× the clean-run
    * median (q69/q209, BENCH_r09). Each listed query must show at
    * least two InMemoryTableScan reads (both join sides served from
    * cache) or a ReusedExchange. The list is a contract like the maps
    * above: an entry that stops matching fails the audit, so removing
    * a persist cannot silently regress. */
  private val cacheBackedSelfJoins: Map[String, String] = Map(
    "q33_jaccard_pairs" -> "jaccardPairs: per-doc sorted-set frame, 3 consumers (prefix postings, both verify sides)",
    "q35_simhash_pairs" -> "simhashPairsBanded: banded frame feeds both candidate-join sides",
    "q36_minhash_lsh" -> "distinct shingle stream: 4 consumers (signatures, sizes, both intersection sides)",
    "q39_knn_lsh" -> "lshTopK: band table feeds query + index sides",
    "q50_neardup_lsh" -> "lshNearDupPairs: band table feeds both bucket-join sides",
    "q52_neardup_multiprobe" -> "lshNearDupPairs multi-probe: one probe frame feeds probe + base (pos=0 slice) sides",
    // q53/q107 (dedup clusters / cluster canonical) are NOT listed:
    // their banded join executes EAGERLY inside componentLabels'
    // driver fast path at test SF, so the returned plan holds only
    // label joins — the shared banded op itself is covered via
    // q35/q209/q217, and CC's persist discipline via CorpusOpsSpec.
    "q69_neardup_ensemble" -> "sigs + banded (text arm) and band table (embedding arm)",
    "q154_setsim_join" -> "jaccardPairs: per-doc sorted-set frame, 3 consumers (prefix postings, both verify sides)",
    "q209_cluster_cohesion" -> "sigs (3 consumers) + banded frame",
    "q217_threshold_sweep" -> "4x8-bit banded sweep frame feeds both candidate-join sides",
    "q250_pair_completeness" -> "jaccardPairs truth side: per-doc sorted-set frame, 3 consumers (q33 class)",
  )

  /** Round-14 verdict #6: the SuffixOps finding showed the existing
    * window rule has a blind spot one level down — a PARTITIONED window
    * over a skewed key is the same single-task straggler the
    * unpartitioned rule forbids, just hidden behind a partitionSpec.
    * This audit MEASURES, for every partitioned Window in every catalog
    * query's analyzed plan, the max partition-key share of the window's
    * input (executing the window CHILD via PlanShim.ofRows with a
    * groupBy-count on the partitionSpec): a window whose hottest class
    * holds a large share of a corpus-scaled input is a scale killer
    * regardless of how many classes exist. Grids/registries (inputs
    * bounded w.r.t. corpus size) are exempt via the rows floor —
    * at sf0.001 every corpus-scaled frame exceeds it while every
    * value-domain/registry frame stays under. Waivers below must name
    * the boundedness argument for the hot class itself, and are
    * stale-guarded like every other map in this suite. */
  private val hotWindowOk: Map[String, String] = Map(
    "q93_sql_text" -> "row_number <= 3 per priority in plain shared ANSI text: rank-limited, so built-in InferWindowGroupLimit bounds the exchange to k rows per key per MAP task (k x maps per key at the reduce, never the corpus), and on every catalog run WindowTopKRule plans it as the one-pass TopKPerKeyExec; the 5-value priority registry output is the engine-portable SQL surface itself",
    "q244_theilsen_trend" -> "median rank window over the PAIRWISE-SLOPE frame of the (type, day) count grid: <= C(days, 2) rows per type at ANY corpus size — value-domain bounded by the observation window (q110 argument), never event-cardinality",
  )
  /** Max tolerated share of the window input held by ONE partition key
    * before the query needs a waiver (0.05 = a 100 TB input puts 5 TB
    * in one WindowExec task). */
  private val hotShareThreshold = 0.05
  /** Inputs below this row count at sf0.001 are value-domain /
    * registry / per-entity frames, bounded w.r.t. corpus size. */
  private val corpusRowsFloor = 1200L

  test("no partitioned window's hottest class exceeds the occupancy threshold") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, LessThan, LessThanOrEqual, Literal, RowNumber, WindowExpression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Count
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter, Window => LWindow}
    import org.apache.spark.sql.graft.PlanShim
    import org.apache.spark.sql.types.IntegerType

    /** true when `w` is the FINAL stage of the repo's two-stage
      * bucketed top-k (the q112/q141 pattern, now shared via
      * SimilarityOps.bucketedRank): its child contains a
      * row_number-limit Filter over an inner Window whose partition
      * keys are w's keys PLUS a bucket expression — w's input is then
      * <= k x buckets rows per key BY CONSTRUCTION at any corpus
      * size, so measuring its sf0.001 occupancy (where the prefilter
      * has nothing to cut) would misread a bounded frame as hot. */
    def boundedByBucketPrefilter(w: LWindow): Boolean = {
      def rankAttrOf(cond: Expression): Option[(Attribute, Int)] = cond match {
        case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType)) => Some((a, v))
        case LessThan(a: Attribute, Literal(v: Int, IntegerType)) => Some((a, v - 1))
        case _ => None
      }
      w.child.collectFirst {
        case LFilter(cond, ch) if rankAttrOf(cond).exists { case (a, k) =>
          k > 0 && ch.collectFirst {
            case w2: LWindow
                if w2.partitionSpec.size > w.partitionSpec.size &&
                  w.partitionSpec.forall(pk =>
                    w2.partitionSpec.exists(_.semanticEquals(pk))) &&
                  w2.windowExpressions.exists {
                    case al @ Alias(WindowExpression(RowNumber(), _), _) =>
                      al.toAttribute.semanticEquals(a)
                    case _ => false
                  } => w2
          }.isDefined
        } => ()
      }.isDefined
    }

    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    val hit = scala.collection.mutable.Set.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, run) =>
      val analyzed = run(spark, sf).queryExecution.analyzed
      val wins = (analyzed.collect { case w: LWindow => w } ++
        analyzed.subqueries.flatMap(_.collect { case w: LWindow => w }))
        .filter(_.partitionSpec.nonEmpty)
        .filterNot(boundedByBucketPrefilter)
      // one measurement per distinct (keys, input) shape per query
      val seen = scala.collection.mutable.Set.empty[String]
      wins.foreach { w =>
        val keyNames = w.partitionSpec.map(_.sql).mkString(", ")
        val shapeKey = keyNames + "|" + w.child.canonicalized.hashCode()
        if (seen.add(shapeKey)) {
          val cnt = Aggregate(
            w.partitionSpec,
            Seq(Alias(Count(Literal(1)).toAggregateExpression(), "c")()),
            w.child)
          val row = PlanShim.ofRows(spark, cnt)
            .agg(org.apache.spark.sql.functions.max("c"),
              org.apache.spark.sql.functions.sum("c")).head()
          val mx = row.getLong(0)
          val tot = row.getLong(1)
          val share = mx.toDouble / math.max(tot, 1L)
          if (tot >= corpusRowsFloor && share > hotShareThreshold) {
            if (hotWindowOk.contains(name)) hit += name
            else offenders +=
              f"$name [$keyNames] max=$mx%d/$tot%d (${share * 100}%.1f%%)"
          }
        }
      }
      spark.catalog.clearCache()
    }
    assert(offenders.isEmpty,
      s"partitioned window with a hot class over a corpus-scaled input in:\n  " +
        offenders.mkString("\n  ") +
        "\n— restate the reduction as groupBy-agg + join-back (q77 " +
        "convention) or record a boundedness argument in hotWindowOk")
    assert(hit == hotWindowOk.keySet,
      s"stale hotWindowOk entries: ${(hotWindowOk.keySet -- hit).mkString(", ")}")
  }

  test("banding/LSH self-join families read their shared frame from cache") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    cacheBackedSelfJoins.keys.toSeq.sorted.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      val ns = nodes(plan)
      val cacheReads = ns.count(_.isInstanceOf[InMemoryTableScanExec])
      val reused = ns.count(_.isInstanceOf[ReusedExchangeExec])
      if (cacheReads < 2 && reused == 0)
        offenders += s"$name (cacheReads=$cacheReads, reusedExchange=$reused)"
      spark.catalog.clearCache()
    }
    assert(offenders.isEmpty,
      s"self-joined subplan recomputes its shared frame in: ${offenders.mkString(", ")} — " +
        "persist the multi-consumer frame (see cacheBackedSelfJoins)")
  }
}
