#!/usr/bin/env python
"""Benchmark harness: runs the headline query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line LAST on stdout: {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {<frozen-13 core + heavy tail>: sec}, "core13":
sec, "best_of_runs": {<same queries>: sec}, "sf": ..., "n_queries": N,
"loadavg": [...]}. The side JSON also records each query's
"codegen_compiles": the generated classes its first run compiled.

Output protocol (round-5 fix; BENCH_r04.json arrived "parsed": null
because the 110-entry per-query map overflowed the driver's tail
capture): the FULL per-query map goes to a side JSON in the repo root,
and the final stdout line keeps only the frozen-13 core — the
cross-round-comparable set — so it stays well under any tail window.
Nothing is printed to stdout after it. File routing (r9 guard): the
committed BENCH_full.json is written ONLY when the run covered the whole
registry (BENCH_QUERIES=all or an equivalent CSV); the default headline
run writes gitignored BENCH_headline.json and CSV spot checks write
gitignored BENCH_subset.json, so neither can clobber the committed
full-registry round record. The stdout line's "full_map" field names
which file this run wrote.

Timing counts actions only (df.count() per query after a warm-up of the
session); Spark session startup is excluded, matching BASELINE.md's plan.
Per-query number = median of 3 runs (run 1 pays parquet-footer /
broadcast first-touch, so the median is a warm run robust to one-off
host stalls — round-5 change from best-of-2, per VERDICT r04 #6: host
throughput drift polluted the round-over-round trend line; the best-of-3
is also recorded in BENCH_full.json, and 1/5/15-min load averages are
captured before and after the suite).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nyc_taxi_lakehouse_spark.plans.ckpt import release_run_checkpoints
from nyc_taxi_lakehouse_spark.registry import all_queries
from nyc_taxi_lakehouse_spark.session import codegen_compiles, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline queries: the operator-dense representative core — ingest, CTAS
# summary, the flagship rollup, the join/window-heavy marts, streaming batch
# twins, and one of each LLM-op family. Override with BENCH_QUERIES=all or CSV.
HEADLINE = [
    "q_ingest_clean",
    "q_daily_summary",
    "q_pricing_rollup",
    "q_zone_performance",
    "q_route_features",
    "q_event_correlation",
    "q_demand_lag_features",
    "q_tumbling_window_5m",
    "q_activity_score",
    "q_dedup_exact",
    "q_dedup_embedding",
    "q_similarity_topk",
    "q_text_stats",
    # Round-2 flagships (appended — the original 13 stay comparable across
    # rounds): CC dedup clustering, native sessionization, eval-set
    # decontamination, merge-as-of attribution.
    "q_dedup_clusters",
    "q_sessionization",
    "q_contamination",
    "q_asof_join",
    # Round-3 flagships: CC dedup (q_dedup_clusters' body), streaming session
    # windows, char-shingle Jaccard, int8 quantization, quality gate.
    "q_dedup_clusters_star",
    "q_session_stream",
    "q_dedup_chargram",
    "q_embedding_quantize",
    "q_quality_gate",
    # Round-3 continuation flagships: fixed-point PageRank, PQ codebook
    # assignment, interval-style gap fill, single-pass funnel.
    "q_pagerank",
    "q_pq_assign",
    "q_gap_fill",
    "q_funnel",
    # Round-3 continuation, part 2: change data feed, sliding-window
    # chunking, sketch-exact heavy hitters.
    "q_snapshot_diff",
    "q_chunk_overlap",
    "q_heavy_hitters",
    "q_regression",
    "q_pareto_frontier",
    # Round-3 continuation flagships, part 3: exact prefix-filter
    # similarity join, oriented triangle counting, CDF-driven incremental
    # maintenance, windowed funnel, basket rules, dynamic sessions.
    "q_dedup_ppjoin",
    "q_triangle_count",
    "q_cdf_incremental_rollup",
    "q_funnel_windowed",
    "q_market_basket",
    "q_session_dynamic",
    # Round-3 continuation flagships, part 4: asymmetric containment dedup,
    # mergeable Count-Min sketch, streaming MG heavy hitters, frame-
    # signature scene cuts, PQ ADC + exact re-rank, shard-export manifest.
    "q_dedup_containment",
    "q_countmin_freq",
    "q_stream_heavy_hitters",
    "q_scene_changes",
    "q_similarity_pq_rerank",
    "q_shard_manifest",
    # Round-3 continuation flagships, part 5: BPE tokenizer application,
    # DSIR importance resampling, frontier BFS, sortless exact quantiles,
    # k-center coreset, recursive CTE, LPA communities, attribution.
    "q_bpe_encode",
    "q_dsir_weights",
    "q_bfs_hops",
    "q_exact_quantile_bisect",
    "q_kcenter_coreset",
    "q_recursive_cte",
    "q_label_propagation",
    "q_attribution",
    # Round-4 flagships: Z-order layout audit, Bloom-filter join pruning,
    # n-gram novelty curve, Simpson's-paradox audit, HITS centrality.
    "q_zorder_layout",
    "q_bloom_prune",
    "q_ngram_novelty",
    "q_simpson_check",
    "q_hits",
    # Round-4 continuation flagships: rank-correlation family (bucketed
    # parallel midrank sweep), calendar ACF, TV corpus drift, integer Gram
    # accumulation + PCA projection, per-source chi-square keywords.
    "q_spearman",
    "q_kendall_tau",
    "q_mannwhitney_u",
    "q_acf",
    "q_tv_drift",
    "q_gram_matrix",
    "q_pca_project",
    "q_chisq_keywords",
    # Round-4 continuation, part 2: commerce indices, forensic screens,
    # recommendation + link prediction + offline eval, sequential testing.
    "q_hhi",
    "q_unit_value_index",
    "q_lead_time",
    "q_trimmed_mean",
    "q_double_pay",
    "q_item_cf",
    "q_link_prediction",
    "q_rec_hitrate",
    "q_sprt",
    # Round-4 continuation, part 3/4: validity gates, SPC, growth ledger,
    # ABC classes, SQL scripting, Holt smoothing, graph/process stats.
    "q_ab_srm",
    "q_control_chart",
    "q_growth_accounting",
    "q_abc_analysis",
    "q_sql_script",
    "q_holt",
    "q_assortativity",
    "q_fano_factor",
    # Round-4 continuation, part 5/6: ranking eval, survival inference,
    # agreement, causal matching + stratified test + mediation, off-policy
    # eval, jackknife, vocabulary estimators, capture-recapture, IPF
    # mixture raking, exact Shapley attribution.
    "q_ndcg",
    "q_logrank",
    "q_cohens_kappa",
    "q_cem_att",
    "q_ips_eval",
    "q_jackknife",
    "q_unseen_vocab",
    "q_capture_recapture",
    "q_cmh",
    "q_ipf_raking",
    "q_shapley_attribution",
    "q_mediation",
    # round-4 part-7/8 flagships: grid-blocked spatial join, hash-
    # randomized permutation inference, intermittent-demand forecasting,
    # corpus keyphrases, pair-join-free anisotropy.
    "q_spatial_join",
    "q_permutation_test",
    "q_croston",
    "q_rake_keyphrases",
    "q_embedding_anisotropy",
    # round-4 part-11/13 flagships: mergeable quantile sketch, hybrid
    # retrieval fusion, fuzzy decontamination, revenue bridge.
    "q_hdr_histogram",
    "q_hybrid_rrf",
    "q_decontam_fuzzy",
    "q_price_volume_mix",
    # part-14/15 flagships: iterative ANF-lite BFS, watermark audit.
    "q_effective_diameter",
    "q_out_of_orderness",
    # part-16/18 flagships: late-interaction retrieval, skip-gram
    # training pairs.
    "q_maxsim_retrieval",
    "q_skipgram_pairs",
    # part-19/21 flagships: quality-aware dedup canonicalization, the
    # Spark 4 pipe-syntax rollup.
    "q_dedup_canonical",
    "q_sql_pipe",
    # part-22/23 flagships: in-engine batch inference, two-sample QQ.
    "q_linear_scorer",
    "q_qq_table",
    # round-5 flagships: exact kNN via grid blocking + geometric ring
    # expansion (oracle = brute-force cross product), grid-blocked DBSCAN
    # (oracle = recursive-CTE closure), exact earth-mover drift.
    "q_spatial_knn_exact",
    "q_dbscan",
    "q_wasserstein",
    "q_idw_interpolation",
    # round-6 addition: the hash-oracled twin of q_pca_project's
    # projection stage (fixed integer components, BIGINT-exact).
    "q_pca_project_step",
    "q_lsh_bucket_step",
    "q_ivf_assign_step",
    "q_pq_adc_step",
    # round-8 additions: the Gram step twin, the converted fixed-point
    # TF-IDF, the adversarial mixed-case dedup, and the 60-bit simhash
    # pairs (now cheap enough to watch — 3.4 s at sf0.1, was 10.6).
    "q_pca_gram_step",
    "q_tfidf",
    "q_mixedcase_dedup",
    "q_dedup_simhash_pairs",
]


# Replay-backed streaming queries memoize their sink per process (the cache
# key includes the pid — streaming/replay.py:_replay_key), so in a fresh
# bench process run 1 executes the real watermarked drain and run 2 reads
# the memoized sink. The reported per-query number stays the min (the
# memoized read, comparable across rounds); the run-1 wall time is reported
# separately under "first_drain" so the bench file is self-describing about
# what the streaming pipelines actually cost end-to-end.
REPLAY_BACKED = {
    "q_stream_dedup",
    "q_session_stream",
    "q_cdc_windowed",
    "q_stream_join",
    "q_user_profile_state",
    "q_stream_join_outer",
    "q_stream_heavy_hitters",
    "q_stream_neardup",
    "q_stream_scd2_enrich",
}


# The frozen 13-query core: unchanged since round 1, the
# cross-round-comparable trend line (BASELINE.md tracks it per round).
CORE13 = HEADLINE[:13]

# Round-12 ADDITION (VERDICT r11 #2, additions-only by contract): the
# heavy-tail queries the r11/r12 optimization rounds actually changed.
# The core13 map is all floor-dominated sub-second marts, so every real
# win (chargram, ppjoin, pagerank, dbscan, item_cf, ...) was invisible
# to the driver's per-query PERF comparison. These ride along in the
# compact stdout "queries" map so PERF_r12+ can confirm or refute the
# claimed optimizations on the driver's own host. CORE13 entries are
# untouched; nothing is removed or renamed.
HEAVY_TAIL = [
    "q_dbscan",
    "q_dedup_chargram",
    "q_dedup_ppjoin",
    "q_dedup_clusters_star",
    "q_pagerank",
    "q_triangle_count",
    "q_hits",
    "q_effective_diameter",
    "q_item_cf",
    "q_rec_hitrate",
    "q_pca_project",
]


def main() -> None:
    sel = os.environ.get("BENCH_QUERIES", "")
    runs = max(1, int(os.environ.get("BENCH_RUNS", "3")))
    specs = all_queries()
    if sel == "all":
        names = sorted(specs)
    elif sel:
        names = [n for n in sel.split(",") if n in specs]
    else:
        names = [n for n in HEADLINE if n in specs]

    load_before = list(os.getloadavg())
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("WARN")
    # Warm the JVM + parquet footers once so per-query numbers measure the
    # query, not first-touch overheads.
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    timings: dict[str, float] = {}
    bests: dict[str, float] = {}
    first_drain: dict[str, float] = {}
    compiles: dict[str, int] = {}
    for name in names:
        fn = specs[name].fn
        samples, n = [], 0
        for i in range(runs):
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            n = df.count()
            samples.append(time.perf_counter() - t0)
            if i == 0:
                # The query's generated-class footprint: the classes its
                # first run compiled (session.CODEGEN_CACHE_ENTRIES is
                # sized against the suite's total).
                compiles[name] = codegen_compiles(spark) - c0
            # The run's result is consumed — release any materialize-once
            # checkpoints it registered (ADVICE r9: otherwise a long bench
            # session pins one RDD per invocation of the chargram/minhash/
            # segment-style queries). Outside the timer: bookkeeping, not
            # query work.
            release_run_checkpoints()
        samples_sorted = sorted(samples)
        timings[name] = round(samples_sorted[len(samples_sorted) // 2], 4)
        bests[name] = round(samples_sorted[0], 4)
        if name in REPLAY_BACKED:
            # Run 1 executes the real watermarked drain; later runs read
            # the per-process memoized sink (see REPLAY_BACKED note). The
            # drain time is reported separately; the per-query number is
            # the median of the warm (memoized-read) runs only — a median
            # that included the drain would misstate the steady-state read.
            first_drain[name] = round(samples[0], 4)
            warm = sorted(samples[1:])
            if warm:
                timings[name] = round(warm[(len(warm) - 1) // 2], 4)
            else:
                # BENCH_RUNS=1: the only sample IS the watermarked drain.
                # Keep it (better than nothing) but say so loudly — the
                # steady-state read was never measured.
                print(
                    f"# {name}: BENCH_RUNS=1, reported time INCLUDES the "
                    "replay drain (no warm run to median)",
                    file=sys.stderr,
                )
        print(f"# {name}: {timings[name]:.3f}s rows={n}", file=sys.stderr)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    load_after = list(os.getloadavg())
    full = {
        "metric": "suite_wall_clock",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "best_of_runs": bests,
        "codegen_compiles": compiles,
        "codegen_compiles_total": sum(compiles.values()),
        "runs_per_query": runs,
        "core13": round(sum(timings[n] for n in CORE13 if n in timings), 4),
        "sf": sf_val,
        "nproc": os.cpu_count(),
        "loadavg_before": [round(v, 2) for v in load_before],
        "loadavg_after": [round(v, 2) for v in load_after],
    }
    if first_drain:
        full["first_drain"] = first_drain
    # Only a run that actually covered the whole registry may write the
    # committed BENCH_full.json (which a 4-query contract check clobbered
    # once in r8, and whose r8 guard still let the ~17-query headline
    # default through). Headline and CSV spot checks go to gitignored side
    # files so they can never replace the full-registry round record.
    if set(names) == set(specs):
        full_name = "BENCH_full.json"
    elif sel == "":
        full_name = "BENCH_headline.json"
    else:
        full_name = "BENCH_subset.json"
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               full_name), "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:  # read-only checkout: the stdout line still lands
        print(f"# {full_name} not written: {e}", file=sys.stderr)

    # Compact final line — the driver's machine-readable record. Keep it
    # short: only the frozen-13 core in "queries" (full map is in
    # BENCH_full.json), and print it LAST with nothing after it.
    compact = {
        "metric": "suite_wall_clock",
        "value": full["value"],
        "unit": "sec",
        "queries": {
            n: timings[n] for n in CORE13 + HEAVY_TAIL if n in timings
        },
        "core13": full["core13"],
        # Best-of-runs beside the medians, so a load-inflated median can be
        # told from a real regression.
        "best_of_runs": {
            n: bests[n] for n in CORE13 + HEAVY_TAIL if n in bests
        },
        "sf": sf_val,
        "n_queries": len(timings),
        "nproc": os.cpu_count(),
        "runs_per_query": runs,
        "loadavg": full["loadavg_after"],
        "full_map": full_name,
    }
    if first_drain:
        compact["first_drain"] = first_drain
    spark.stop()
    print(json.dumps(compact))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
