"""Registry-wide physical-plan linter — the 100 TB scale guard.

Every registered query's executed plan is checked for the three shapes that
do not survive a 100× scale-up: cartesian products, broadcast-nested-loop
joins, and single-partition exchanges. Queries where the shape is inherent
AND bounded are whitelisted with the reason; anything new that trips a flag
fails CI until it is either fixed or consciously whitelisted.
"""

from __future__ import annotations

import pytest

from nyc_taxi_lakehouse_spark.registry import all_queries

SPECS = all_queries()
SF = "/root/testdata/sf0.001"

# name -> (allowed flags, why it is bounded)
WHITELIST = {
    # Scalar-aggregate results (one row by definition).
    "q_dashboard_stats": ({"single-part"}, "global KPI scalar aggregate"),
    "q_data_profile": ({"single-part"}, "one wide aggregate row, unpivoted"),
    "q_feature_correlation": ({"single-part"}, "scalar moment sums"),
    "q_feature_stats": ({"single-part"}, "scalar moment sums"),
    # 1-row normalizer / recency scalar subqueries (broadcast a single row).
    "q_data_mixture": ({"bnlj", "single-part"}, "per-source rollup x 1-row total"),
    "q_stratified_sample": ({"bnlj", "single-part"}, "strata mins: 1-row side"),
    "q_realtime_activity": ({"single-part"}, "MAX(ts) recency scalar"),
    "q_recent_orders": ({"single-part"}, "MAX(ts) recency scalar"),
    "q_route_features": ({"single-part"}, "MAX(l_shipdate) recency scalar"),
    # Global ranking over already-aggregated (cardinality-bounded) tables.
    "q_rank_report": ({"single-part"}, "global rank over per-customer aggregate"),
    "q_user_deciles": ({"single-part"}, "global NTILE over per-user aggregate"),
    # Dictionary-encoded oracle anchors: the vocabulary dense_rank is a
    # global sort by design; the production path (xxhash64) has none.
    "q_dedup_minhash": ({"single-part"}, "vocab dictionary sort (oracle anchor)"),
    # q_dedup_simhash/_pairs left the whitelist in r8: the md5-bit rewrite
    # removed their vocabulary DENSE_RANK, so they no longer single-part.
    # 1-row corpus-size scalar feeding the stop-shingle df-cap threshold.
    # q_dedup_chargram left the whitelist in r8: the per-lang df-cap
    # replaced the global COUNT(*) scalar, so no single-part shape remains.
    # 1-row corpus-token-total broadcast into the lift denominator.
    "q_collocations": ({"single-part", "bnlj"}, "N-tokens scalar x bigram table"),
    # 1-row corpus/target token totals x the 256-bucket DSIR weight table.
    "q_dsir_weights": ({"single-part", "bnlj"}, "1-row totals x 256-bucket weights"),
    # Constant 2-row epoch grid fanned out over the corpus scan.
    "q_epoch_shuffle": ({"bnlj"}, "2-row epoch grid x corpus"),
    # 1-row exact/sketch scalars cross-joined into the single report row.
    "q_kmv_distinct": ({"single-part", "bnlj"}, "1-row sketch scalars x report"),
    # Three 1-row scalar MAE aggregates (one per truncation dim).
    "q_mrl_truncation": ({"single-part"}, "scalar MAE row per truncation dim"),
    # Day-cardinality cumulative window (<= |days| rows after the day agg).
    "q_dau_wau_mau": ({"single-part"}, "cumulative sum over day-grain rows"),
    # Global rank over the per-customer aggregate (q_rank_report pattern).
    "q_gini_concentration": ({"single-part"}, "rank over per-customer aggregate"),
    # Hour-grain series windows (<= |hours| rows after the hourly agg).
    "q_sax_motifs": ({"single-part"}, "series windows over hour-grain agg"),
    # Constant 8/9-row shard grids fanned out over the corpus scan.
    "q_rendezvous_shards": ({"bnlj"}, "8/9-row shard grid x corpus"),
    # 1-row corpus-count broadcast + cumulative window over 10 decile rows.
    "q_vocab_growth": ({"bnlj", "single-part"}, "1-row N x 10 decile rows"),
    # Cumulative window over DISTINCT scores (q_pareto_frontier class).
    "q_auc": ({"single-part"}, "sweep over per-score aggregate"),
    # Sample-bounded calibration: vocab dictionary sort (oracle anchor) +
    # 10-bucket curve rows.
    "q_lsh_calibration": ({"single-part"}, "sample-bounded vocab sort + 10 buckets"),
    # 1-row summary: 256-word filter + dim-key count scalar broadcast.
    "q_bloom_prune": ({"single-part", "bnlj"}, "scalar audit row x 1-row dim count"),
    # 1-row MIN(month_no) scalar subquery selecting the base month.
    "q_unit_value_index": ({"single-part"}, "MIN(month_no) base-month scalar"),
    # Day-grain cumulative LLR walk + 1-row decision-day broadcast
    # (q_dau_wau_mau / q_runs_test class: bounded by the day spine).
    "q_sprt": ({"single-part"}, "cumulative walk over day-grain rows"),
    # One scalar eval-summary row (hit-rate ratios over exact counts).
    "q_rec_hitrate": ({"single-part"}, "scalar eval-summary row"),
    # Day-grain LAG series + 1-row chart-stats broadcast (q_cusum class).
    "q_control_chart": ({"bnlj", "single-part"}, "day-grain series + 1-row stats"),
    # Cumulative walk over the per-part aggregate (q_gini class) + 1-row total.
    "q_abc_analysis": ({"bnlj", "single-part"}, "rank walk over per-part aggregate"),
    # Calendar-bounded day array folded in one task (q_ewma_control class).
    "q_holt": ({"single-part"}, "day-array fold, calendar-bounded"),
    # Five exact integer moment sums to one scalar row.
    "q_assortativity": ({"single-part"}, "edge-moment scalar row"),
    # 1-row doc_id bounds fanned onto the gram stream (q_drift_chisq shape).
    "q_ngram_novelty": ({"bnlj", "single-part"}, "1-row decile bounds x grams"),
    # 1-row pooled moments x the stratum-grain aggregate.
    "q_simpson_check": ({"bnlj", "single-part"}, "1-row pooled moments x strata"),
    # 1-row L1 totals broadcast per HITS half-step normalization.
    "q_hits": ({"bnlj", "single-part"}, "1-row norm totals x node scores"),
    # Day-sequence window over the CALENDAR-bounded daily aggregate
    # (q_cusum_changepoint shape) + 1-row total broadcast.
    "q_runs_test": ({"bnlj", "single-part"}, "day-grain sequence + 1-row total"),
    # Rank prefix walks over the DISTINCT-value aggregates (q_auc class).
    # Bucketed rank sweep (detsql.rank2_ctes): the remaining shapes are the
    # 1-row min/max bounds broadcast and the <=64-row bucket-offset window.
    "q_spearman": ({"bnlj", "single-part"}, "1-row bounds + 64-row offset window"),
    "q_mannwhitney_u": ({"bnlj", "single-part"}, "1-row bounds + 64-row offset window"),
    # Contingency-cell algebra: inequality self-join on the <=561-row cell
    # table + 1-row scalar CTE broadcasts (cell count bounded by the
    # variables' fixed cardinalities, not the corpus).
    "q_kendall_tau": ({"bnlj", "single-part"}, "<=561-row cell self-join + 1-row CTEs"),
    "q_gk_lambda": ({"bnlj", "single-part"}, "k1*k2 contingency + 1-row marginal CTEs"),
    # Vocab-sized gap table + 1-row totals broadcast; final scalar agg.
    "q_tv_drift": ({"bnlj", "single-part"}, "vocab-keyed agg + 1-row totals"),
    # Calendar-bounded spine (<=2405 days) x 14 lags; 14-row LB window;
    # 1-row moment broadcast (q_cusum_changepoint class).
    "q_acf": ({"bnlj", "single-part"}, "calendar-day spine x 14 lags + 1-row moments"),
    # 25-group rollup re-aggregated to one scalar row.
    "q_anova": ({"single-part"}, "nation-grain rollup to scalar"),
    # 1-row corpus-total broadcast into the token x source cell table.
    "q_chisq_keywords": ({"bnlj", "single-part"}, "1-row total + vocab-keyed cells"),
    # Vocab^2-bounded bigram rank window + 1-row global-moment broadcast.
    "q_zipf_check": ({"bnlj", "single-part"}, "bigram-vocab rank sweep + 1-row stats"),
    # d(d+1)/2 = 2080 output cells + 1-row corpus-count broadcast.
    "q_gram_matrix": ({"bnlj", "single-part"}, "2080-cell Gram output + 1-row n"),
    # 2x2 paired-detector cells: one scalar row.
    "q_mcnemar": ({"single-part"}, "2x2 contingency scalar"),
    # 1-row window-bounds broadcast into the per-type aggregate.
    "q_poisson_rate": ({"bnlj", "single-part"}, "1-row bounds + |types| rows"),
    # Vocab dictionary rank (oracle-anchor, q_dedup_minhash class) +
    # 1-row vocab-size broadcast into the 30-row top-pair table.
    "q_skipgram_pairs": ({"bnlj", "single-part"}, "vocab rank anchor + 1-row size x 30"),
    # 1-row window-midpoint broadcast + TWO-group (half) rank windows +
    # 19-row ventile spine join.
    "q_qq_table": ({"bnlj", "single-part"}, "1-row mid x corpus; 2-group ranks"),
    # 1-row day-bounds broadcast into the 7-dow + 24-hour profile rows.
    "q_seasonal_index": ({"bnlj", "single-part"}, "1-row bounds x 31 profile rows"),
    # 4-cell factorial pivot to one scalar row (q_mcnemar class).
    "q_ab_interaction": ({"single-part"}, "2x2 cell pivot to scalar row"),
    # Cumulative window over the 7-band lateness histogram (the corpus
    # stage is the partition-keyed running-max window).
    "q_out_of_orderness": ({"single-part"}, "7-band histogram cumsum"),
    # Histogram windows over the <=7-hop distance table + the 8-source
    # seed pick (ORDER BY ... LIMIT 8 is a TakeOrdered, but the cum
    # window runs on hop grain).
    "q_effective_diameter": ({"single-part"}, "<=7-hop histogram windows"),
    # 1-row period-totals pivot broadcast into the 25-brand bridge.
    "q_price_volume_mix": ({"bnlj", "single-part"}, "1-row totals x 25-brand bridge"),
    # 1-row corpus-budget totals x the |langs| report grain.
    "q_tokenizer_fertility": ({"bnlj", "single-part"}, "1-row totals x |langs| rows"),
    # k=16 centroid seed window + 16-cell global-mean window (the
    # q_kmeans_step centroid-bootstrap class); corpus stage is keyed.
    "q_silhouette": ({"single-part"}, "k=16 seed rank + 16-cell report windows"),
    # Cumulative window over the <=216-cell bucket table.
    "q_hdr_histogram": ({"single-part"}, "<=216-bucket sketch cumsum"),
    # NTILE over the per-user aggregate (q_user_deciles class) + 10-row
    # decile curve windows.
    "q_qini_uplift": ({"single-part"}, "NTILE over user-grain agg + 10 rows"),
    # Retriever rank windows over per-doc aggregates + 1-row corpus stats
    # + 64-row probe broadcast; production fuses k-bounded candidate
    # lists (docstring), the full-corpus ranking is the oracle form.
    "q_hybrid_rrf": ({"bnlj", "single-part"}, "doc-grain rank sweeps + 1-row stats"),
    # Threshold sweep over the per-score aggregate (q_auc class).
    "q_average_precision": ({"single-part"}, "sweep over per-score aggregate"),
    # Constant 16-projection fanout of the user grain; 1-row scalars.
    "q_ams_f2": ({"bnlj", "single-part"}, "16-projection fanout + 1-row scalars"),
    # 1-row treated-fraction scalar x user grain; constant 128-row
    # replicate fanout; 5-row BH walk.
    "q_fdr_bh": ({"bnlj", "single-part"}, "1-row fraction x users; 5-row BH walk"),
    # Constant 256-register spine + 1-row sketch/exact scalars.
    "q_hll_impl": ({"bnlj", "single-part"}, "256-register spine + 1-row scalars"),
    # 1-row user-count scalar x the <=|types|^5-bounded path table.
    "q_top_paths": ({"bnlj", "single-part"}, "1-row n_u x bounded path table"),
    # q_ece shape: 1-row min/max bounds broadcast + 10-row bin algebra.
    "q_brier_decomp": ({"bnlj", "single-part"}, "1-row bounds + 10-row bin algebra"),
    # 64-row per-dim sums to 1-row moment scalars (sum-vector identity).
    "q_embedding_anisotropy": ({"bnlj", "single-part"}, "64-dim sums to 1-row scalars"),
    # Packing walk over the FILE-MANIFEST grain (bounded: files per table
    # partition) + 1-row total/target broadcast.
    "q_compaction_plan": ({"bnlj", "single-part"}, "manifest-grain cumsum + 1-row target"),
    # Same 9-row offset fanout as q_spatial_knn; both argmins are
    # direction-partitioned WindowGroupLimits.
    "q_mutual_nn": ({"bnlj"}, "9-row offset grid x supplier side"),
    # Constant 9-row neighbor-offset grid fanned onto the SMALL side
    # (q_rendezvous_shards class); ranking windows are probe-partitioned.
    "q_spatial_knn": ({"bnlj"}, "9-row offset grid x supplier side"),
    "q_idw_interpolation": ({"bnlj"}, "9-row offset grid x supplier side (q_spatial_knn shape)"),
    # 1-row pair-count scalar fanned onto the blocked candidate pairs
    # (top-20 itself is TakeOrderedAndProject — no global sort).
    "q_spatial_join": ({"bnlj", "single-part"}, "1-row pair-count x pairs; top-k take"),
    # Fixed 1024-cell grid algebra: 32-row spine cross join, grid
    # adjacency self-joins, 1-row moment scalars.
    "q_morans_i": ({"bnlj", "single-part"}, "constant 1024-cell grid + 1-row moments"),
    # 1-row observed-stats broadcast x user grain; constant 128-row
    # replicate fanout; 128-row randomization-distribution aggregate.
    "q_permutation_test": ({"bnlj", "single-part"}, "1-row obs x users; 128-row reps"),
    # 1-row user-count broadcast into the <=|types|^2 rule grid.
    "q_seq_rules": ({"bnlj", "single-part"}, "1-row n_u x <=20-row rule grid"),
    # class x sensitive-value grid (bounded by fixed attribute
    # cardinalities) + 1-row corpus total + min-l window over <=|classes|.
    "q_l_diversity": ({"bnlj", "single-part"}, "bounded class x band grid + 1-row total"),
    # Four-cell pivot to one scalar row + 1-row bounds broadcast.
    "q_diff_in_diff": ({"bnlj", "single-part"}, "2x2 cells to scalar + 1-row bounds"),
    # Nation-grain algebra (25 rows) x two 1-row scalar CTEs.
    "q_modularity": ({"bnlj", "single-part"}, "nation-grain rows + 1-row m/Q scalars"),
    # Day-grain window over the calendar-bounded daily agg (q_cusum class).
    "q_rolling_regression": ({"single-part"}, "calendar-day window (<=2405 rows)"),
    # Layout audit: NTILE file model IS the thing audited (production
    # clustering uses repartitionByRange — versioned.cluster); 1-row
    # min/max bounds broadcast.
    "q_zorder_layout": ({"single-part", "bnlj"}, "NTILE file model + 1-row bounds"),
    # 7-row dow profile x 7-row holdout + scorecard windows over 7 rows.
    "q_forecast_backtest": ({"bnlj", "single-part"}, "7-row profile x 7-row holdout"),
    # 1-row global-mean scalar broadcast into the fallback branch.
    "q_target_encoding": ({"bnlj", "single-part"}, "1-row global mean x encoding table"),
    # Sweep over DISTINCT scores + 10 decile rows x 1-row totals.
    "q_gains_chart": ({"bnlj", "single-part"}, "score sweep + 10 deciles x 1-row totals"),
    # Day-grain series folded in one task (collect_list over <=|days| rows).
    "q_ewma_control": ({"single-part"}, "day-array fold, |days| structs"),
    # 1-row train-vocab-size scalar broadcast into the smoothing denominator.
    "q_lm_holdout": ({"single-part", "bnlj"}, "1-row V scalar x held-out stream"),
    # Scalar profile row over the class-grain aggregate.
    "q_k_anonymity": ({"single-part"}, "1-row profile of class table"),
    # Generated forecast grid x small per-hour profile (both tiny).
    "q_demand_prediction": ({"bnlj"}, "sequence grid x hourly profile"),
    # Dim-sized quadratic ops (25-row nation table).
    "q_fuzzy_entity": ({"bnlj"}, "25-row dim self-join on inequality"),
    # 1-row corpus-total broadcast into the per-fold doc_share denominator.
    "q_kfold_split": ({"bnlj", "single-part"}, "per-fold rollup x 1-row total"),
    # Constant-size fanout sides: 8-row subspace explode x 16-row codebook.
    "q_pq_assign": ({"bnlj"}, "8-row subspace grid x 16-row codebook"),
    # 1-row time-range bounds broadcast onto the scan.
    "q_drift_chisq": ({"bnlj", "single-part"}, "MIN/MAX ts 1-row bounds"),
    # 4-step union off the 1-row global funnel aggregate.
    "q_funnel": ({"single-part"}, "steps union off a scalar funnel agg"),
    "q_funnel_windowed": ({"single-part"}, "steps union off a scalar funnel agg"),
    # Rule ledger: 1-row check/dup/orphan scalars cross-joined into 6 rows.
    "q_expectations": ({"bnlj", "single-part"}, "1-row audit scalars x rules"),
    # 9-row digit counts x 1-row total broadcast.
    "q_benford": ({"bnlj", "single-part"}, "digit counts x 1-row total"),
    # Prefix-max sweep over DISTINCT spend values of the per-customer
    # aggregate (cardinality = #customers; range-partitioned two-pass
    # prefix-max is the documented larger-scale form).
    "q_pareto_frontier": ({"single-part"}, "global sweep over per-customer aggregate"),
    # 1-row stats scalar x 1-row triangle scalar; edge/wedge joins are all
    # keyed equality joins.
    "q_triangle_count": ({"bnlj", "single-part"}, "1-row stats x 1-row count"),
    # 1-row order-total scalar broadcast into support/lift denominators.
    "q_market_basket": ({"bnlj", "single-part"}, "pair table x 1-row total"),
    # 1-row token-total scalar feeding the vocab HAVING threshold.
    "q_oov_rate": ({"bnlj", "single-part"}, "1-row token total for vocab cut"),
    # NTILE quintiles over the per-customer aggregate (q_user_deciles shape).
    "q_rfm_segments": ({"single-part"}, "global NTILE over per-customer aggregate"),
    # CUSUM running sum over the DAILY aggregate (cardinality = #days);
    # 1-row mean broadcast.
    "q_cusum_changepoint": ({"bnlj", "single-part"}, "window over per-day aggregate x 1-row mean"),
    # Global run_keys window over the per-key COUNT table (cardinality =
    # #keys, not #rows) + 1-row tot/pct scalars broadcast onto top-10.
    "q_skew_report": ({"bnlj", "single-part"}, "window over per-key aggregate x 1-row stats"),
    # Constant 4-row seed fanout (the d hash rows of the sketch grid).
    "q_countmin_freq": ({"bnlj"}, "4-row CMS seed grid cross join"),
    # Centered-MA window over the DAILY aggregate (cardinality = #days) +
    # ≤7-row seasonal table broadcast — q_cusum_changepoint's shape.
    "q_stl_decompose": ({"bnlj", "single-part"}, "window over per-day aggregate x 7-row seasonal"),
    # Three 1-row audit scalars (n / candidates / truth-completeness)
    # cross-joined into the single report row.
    "q_blocking_quality": ({"bnlj", "single-part"}, "1-row audit scalars x 1-row report"),
    # Constant 32-replicate fanout + 32-row rank window + 1-row scalars.
    "q_bootstrap_ci": ({"bnlj", "single-part"}, "32-replicate fanout x 32-row order stats"),
    # 1-row corpus-size scalar x 3-row term-df table broadcast into scores.
    "q_keyword_search": ({"bnlj", "single-part"}, "1-row N scalar x 3-term df table"),
    # 1-row corpus stats (N, total tokens) x 3-term df table, the
    # q_keyword_search shape with BM25's length norm riding along.
    "q_bm25": ({"bnlj", "single-part"}, "1-row corpus stats x 3-term df table"),
    # 1-row MIN/MAX ts bounds onto the scan (q_drift_chisq shape) + the
    # supremum prefix walk over the DISTINCT-value aggregate.
    "q_ks_drift": ({"bnlj", "single-part"}, "1-row bounds x scan; sweep over per-value aggregate"),
    "q_wasserstein": ({"bnlj", "single-part"}, "1-row bounds x scan; sweep over per-value aggregate (q_ks_drift shape)"),
    # 1-row total-weight scalar broadcast + source offsets from a window
    # over the per-source AGGREGATE (cardinality = #sources); the per-doc
    # cumulative windows are source-partitioned, never single-partition.
    "q_weighted_sample": ({"bnlj", "single-part"}, "1-row W scalar; offsets over per-source aggregate"),
    # PAV stack fold over the score-BIN aggregate (a few hundred rows at
    # any corpus size — q_ewma_control's bounded-fold class); the corpus
    # pass is the preceding keyed aggregate.
    "q_isotonic": ({"single-part"}, "PAV fold over score-bin aggregate"),
    # At-risk suffix sum + survival fold over the ≤49-row hour grain; the
    # corpus pass is the user-keyed aggregate.
    "q_kaplan_meier": ({"single-part"}, "survival fold over horizon-hour grain"),
    # Quadratic pair join + median sweeps over the per-DAY aggregate —
    # calendar-bounded (~2.4k days → ~3M pairs at ANY data volume).
    "q_theilsen": ({"bnlj", "single-part"}, "calendar-bounded day-grain quadratic + median sweep"),
    # Cumulative windows + union-backfill lane over value-DOMAIN grain
    # (per-value aggregates — q_auc's boundedness class) + 1-row N scalar.
    "q_quantile_norm": ({"bnlj", "single-part"}, "windows over per-value aggregates x 1-row N"),
    # 1-row ts-bounds + 1-row pooled-moment scalars broadcast around the
    # user-keyed and arm-keyed aggregates.
    "q_cuped": ({"bnlj", "single-part"}, "1-row bounds/theta scalars x keyed aggregates"),
    # 1-row method-of-moments prior x the (lang, source)-grain rollup.
    "q_eb_shrinkage": ({"bnlj", "single-part"}, "1-row prior x block-grain rollup"),
    # 1-row min/max range + 1-row N scalars around the 10-bin rollup.
    "q_ece": ({"bnlj", "single-part"}, "1-row range/N scalars x 10 bins"),
    # 1-row totals x the <= k1*k2-cell contingency term table.
    "q_cramers_v": ({"bnlj", "single-part"}, "1-row totals x contingency cells"),
    # Same calendar-bounded day-grain quadratic as q_theilsen + 1-row
    # S/n/ties scalars into the report row.
    "q_mann_kendall": ({"bnlj", "single-part"}, "calendar-bounded day-grain quadratic x 1-row scalars"),
    # At-risk suffix sums + cumulative O/E/V windows over the ≤49-row
    # censoring-horizon grain (q_kaplan_meier's boundedness class); the
    # corpus pass is the user-keyed aggregate.
    "q_logrank": ({"single-part"}, "O/E/V windows over horizon-hour grain"),
    # 10-row ranked-list window (after TakeOrdered limit) + the scalar
    # eval-summary row (q_rec_hitrate class).
    "q_ndcg": ({"single-part"}, "10-row ranked list + scalar eval-summary row"),
    # ATT/report windows over the <=125-row (nation, bal_band) strata
    # grain; the corpus pass is the customer-keyed spend aggregate.
    "q_cem_att": ({"single-part"}, "ATT windows over <=125-row strata grain"),
    # IPS/SNIPS totals over the <=20-row (action, band) propensity-cell
    # grain; the corpus pass is the user-partitioned reward window.
    "q_ips_eval": ({"single-part"}, "OPE totals over <=20-row cell grain"),
    # Leave-one-out/variance windows over the calendar-bounded day grain
    # (q_theilsen boundedness class); corpus pass = the day rollup.
    "q_jackknife": ({"single-part"}, "LOO windows over calendar-bounded day grain"),
    # Estimator windows over the <=11-row count-of-counts grain; corpus
    # pass = the token-keyed type-count aggregate.
    "q_unseen_vocab": ({"single-part"}, "windows over <=11-row count-of-counts grain"),
    # 1-row scalar capture report (checkpointed user grain feeds it);
    # corpus pass = the user-keyed min/max aggregate.
    "q_capture_recapture": ({"single-part"}, "1-row scalar capture report"),
    # CMH windows over the 3-row stratum grain (q_logrank class);
    # corpus pass = the user-keyed aggregate.
    "q_cmh": ({"single-part"}, "CMH windows over 3-row stratum grain"),
    # 12 unrolled IPF half-step windows over the ~100-row
    # (lang, source) cell grid; corpus pass = the one count aggregate.
    "q_ipf_raking": ({"single-part"}, "IPF half-steps over bounded mixture grid"),
    # Constant 16-value coalition lattice runs driver-side (the 16x4
    # BNLJ plan measured 5-7 s of scheduling overhead); the plan is one
    # user-keyed mask aggregate + a 4-row literal relation, but keep the
    # bounded shapes whitelisted in case AQE re-plans the final sort.
    "q_shapley_attribution": (
        {"bnlj", "single-part"},
        "16-value lattice driver-side; 4-row literal report",
    ),
    # 1-row moment reduction + closed-form slope algebra; corpus pass =
    # the user-keyed aggregate.
    "q_mediation": ({"single-part"}, "1-row OLS moment reduction"),
}


# Broadcast-hint rule (VERDICT r06 #3): a broadcast ResolvedHint whose
# analyzed subtree reaches a LogicalRDD (localCheckpoint — size stats hidden
# from Catalyst) or a base-table relation without passing a structural
# boundedness barrier (GlobalLimit / ungrouped Aggregate) is the
# OOM-at-100TB class fixed in q_hits/q_kcore/MoR. Sites whose bound is
# semantic rather than structural are whitelisted here with the reason;
# "size-gated" means plans.gated_broadcast applied the hint only below a
# MEASURED row count (at the test SF the gate passes, so the hint — and
# this flag — legitimately appear).
HINT_WHITELIST = {
    "q_similarity_ivf": "16·64-row literal centroid table (createDataFrame)",
    "q_ivf_assign_step": "16·64-row literal centroid table (createDataFrame)",
    "q_contamination": "eval side thresholded on its measured doc count",
    "q_semdedup": "centroid components: corpus ⋈ LIMIT-k ids (k·dim rows)",
    "q_kmeans_step": "centroid components: corpus ⋈ LIMIT-k ids (k·dim rows)",
    "q_similarity_pq_rerank": "PQ codebook/LUT/probe tables (16-code × 8-sub model)",
    "q_pq_adc_step": "PQ codebook literal + probes·8·16-row LUT",
    "q_deletion_vectors": "size-gated on the tombstone count the manifest "
    "records for the snapshot's deletion vectors (versioned._read_files)",
    "q_hits": "size-gated on measured per-side node counts",
    "q_item_cf": "size-gated (gated_broadcast, d17ab03)",
    "q_rec_hitrate": "size-gated (gated_broadcast, d17ab03)",
    "q_kcore": "frontier/membership size-gated on measured counts; the "
    "decrement table is unhinted (in-plan aggregate — AQE-measured)",
    "q_spearman": "<=50-value l_quantity rank table + 64-row bucket offsets",
    "q_pca_project": "k·dim principal-component tables",
    "q_pca_project_step": "k·dim principal-component tables",
    "q_pca_gram_step": "d-row (64) column-sum tables — grouped on the "
    "dimension index, bounded by d not the corpus",
    "q_dsir_weights": "256-bucket hash-grain weight table",
    "q_heavy_hitters": "size-gated on measured MG-candidate count "
    "(k·P-bounded union, checkpointed so the count is not a second pass)",
    "q_stream_heavy_hitters": "size-gated on measured sink-candidate count "
    "(k·shards·batches-bounded)",
}


@pytest.mark.parametrize("name", sorted(SPECS))
def test_no_unbounded_plan_shapes(name, spark):
    from nyc_taxi_lakehouse_spark.plans import plan_flags
    from nyc_taxi_lakehouse_spark.plans.audit import broadcast_hint_risks

    df = SPECS[name].fn(spark, SF)
    flags = plan_flags(df)
    allowed = WHITELIST.get(name, (set(),))[0]
    assert flags <= allowed, (
        f"{name}: plan shapes {flags - allowed} not whitelisted — either fix "
        f"the plan or add a bounded-why entry.\n"
        f"{df._jdf.queryExecution().executedPlan().toString()[:2000]}"
    )
    risks = broadcast_hint_risks(df)
    assert not risks or name in HINT_WHITELIST, (
        f"{name}: {risks} — an UNGATED broadcast hint over a stats-hidden or "
        f"corpus-scaled relation OOMs at 100 TB. Use plans.gated_broadcast "
        f"with a measured count, or whitelist with the boundedness reason."
    )


@pytest.mark.parametrize("name", sorted(SPECS))
def test_driver_safe_output_schema(name, spark):
    """The driver's rows-only canonicalizer pandas-sorts every column and
    crashes on unhashable cells (round-2's q_value_percentiles_approx
    TypeError) — so every registered query must emit FLAT scalar columns:
    no arrays, maps, or structs. Project sketches into scalars instead."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = SPECS[name].fn(spark, SF)
    nested = [
        (f.name, f.dataType.simpleString())
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, f"{name} emits nested columns {nested}"
