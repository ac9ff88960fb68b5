"""Central query registry.

Every implemented operator/query registers a ``QuerySpec`` here: a Spark
implementation (callable returning a DataFrame) plus, when SQL-expressible, an
equivalent DuckDB oracle SQL string. ``__spark_entry__`` exposes the registry
to the driver's correctness gate; tests run the same pairs locally.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    tables: list[str] = field(default_factory=list)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in _REGISTRY:
        raise ValueError(f"duplicate query name: {spec.name}")
    _REGISTRY[spec.name] = spec
    return spec


def sql_query(
    name: str,
    spark_sql: str,
    duck_sql: str | None,
    tables: list[str],
    doc: str = "",
) -> QuerySpec:
    """Register a query whose Spark implementation is a SQL string over the
    testdata temp views (the reference's dominant style: spark.sql over
    catalog tables, comprehensive_analytics.py:204)."""
    from .sources.tables import load_tables

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_tables(spark, sf_dir, tables)
        return spark.sql(spark_sql)

    fn.__doc__ = doc or f"Spark SQL query {name}"
    fn.spark_sql = spark_sql
    return register(QuerySpec(name=name, fn=fn, oracle=duck_sql, tables=tables, doc=doc))


def df_query(
    name: str,
    duck_sql: str | None,
    tables: list[str],
    doc: str = "",
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable]:
    """Decorator for DataFrame-API implementations."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        register(QuerySpec(name=name, fn=fn, oracle=duck_sql, tables=tables, doc=doc))
        return fn

    return deco


# The driver's correctness harness checks the FIRST 50 queries in iteration
# order (CORRECTNESS_r02.json stopped at exactly the first 50 of 75). Queries
# named here are yielded first so never-driver-checked and newly-added queries
# land inside that cap; everything else follows in registration order and is
# covered by the local mirror suite (tests/test_oracle_parity.py) at two SFs.
_DRIVER_PRIORITY: list[str] = [
    # round-4 part-24 additions (never driver-checked — first rows needed)
    "q_mode_stats",
    "q_mutual_nn",
    # round-4 part-23 additions (never driver-checked — first rows needed)
    "q_qq_table",
    "q_linear_scorer",
    # round-4 part-22 additions (never driver-checked — first rows needed)
    "q_boxplot_table",
    "q_seasonal_index",
    # round-4 part-21 additions (never driver-checked — first rows needed)
    "q_sql_pipe",
    "q_arrow_udf",
    # round-4 part-19 additions (never driver-checked — first rows needed)
    "q_dedup_canonical",
    "q_modern_agg",
    "q_spatial_knn",
    # round-4 part-16 additions (never driver-checked — first rows needed)
    "q_skipgram_pairs",
    "q_maxsim_retrieval",
    "q_ab_interaction",
    "q_state_runs",
    # round-4 part-13 additions (never driver-checked — first rows needed)
    "q_out_of_orderness",
    "q_effective_diameter",
    "q_price_volume_mix",
    "q_hard_negatives",
    "q_tokenizer_fertility",
    # round-4 part-11 additions (never driver-checked — first rows needed)
    "q_silhouette",
    "q_decontam_fuzzy",
    "q_hdr_histogram",
    "q_qini_uplift",
    # round-4 part-10 additions (never driver-checked — first rows needed)
    "q_hybrid_rrf",
    "q_average_precision",
    "q_ams_f2",
    "q_price_elasticity",
    # round-4 part-9 additions (never driver-checked — first rows needed)
    "q_fdr_bh",
    "q_hll_impl",
    "q_top_paths",
    # round-4 part-8 additions (never driver-checked — first rows needed)
    "q_rake_keyphrases",
    "q_brier_decomp",
    "q_embedding_anisotropy",
    "q_compaction_plan",
    # round-4 part-7 additions (never driver-checked — first rows needed)
    "q_spatial_join",
    "q_morans_i",
    "q_croston",
    "q_permutation_test",
    "q_power_mde",
    "q_seq_rules",
    "q_l_diversity",
    # round-4 additions (never driver-checked — first rows needed)
    "q_mediation",
    "q_shapley_attribution",
    "q_ipf_raking",
    "q_unseen_vocab",
    "q_capture_recapture",
    "q_cmh",
    "q_cem_att",
    "q_ips_eval",
    "q_jackknife",
    "q_ndcg",
    "q_logrank",
    "q_cohens_kappa",
    "q_zorder_layout",
    "q_bloom_prune",
    "q_ngram_novelty",
    "q_simpson_check",
    "q_hits",
    "q_lateral_topk",
    "q_cohort_ltv",
    "q_runs_test",
    "q_spearman",
    "q_kendall_tau",
    "q_mannwhitney_u",
    "q_gk_lambda",
    "q_tv_drift",
    "q_acf",
    "q_anova",
    "q_chisq_keywords",
    "q_zipf_check",
    "q_gram_matrix",
    "q_mcnemar",
    "q_poisson_rate",
    "q_diff_in_diff",
    "q_pca_project",
    "q_modularity",
    "q_rolling_regression",
    "q_stream_scd2_enrich",
    "q_hhi",
    "q_unit_value_index",
    "q_trimmed_mean",
    "q_double_pay",
    "q_item_cf",
    "q_link_prediction",
    "q_sprt",
    "q_lead_time",
    "q_rec_hitrate",
    "q_ab_srm",
    "q_control_chart",
    "q_growth_accounting",
    "q_abc_analysis",
    "q_sql_script",
    "q_holt",
    "q_assortativity",
    "q_fano_factor",
    # VERDICT r02 "do this" #1 names these seven as the minimum set that
    # must appear green in CORRECTNESS_r03.json (never driver-checked:
    # the r02 file capped at 50 rows). They outrank everything else.
    "q_contamination",
    "q_dedup_clusters",
    "q_semdedup",
    "q_kmeans_step",
    "q_train_split",
    "q_seq_packing",
    "q_stream_dedup",
    # this session's additions (newest — first driver row needed)
    "q_dedup_containment",
    "q_dup_spans",
    "q_event_pattern",
    "q_skew_report",
    "q_countmin_freq",
    "q_max_concurrency",
    "q_stream_heavy_hitters",
    "q_similarity_pq_rerank",
    "q_scene_changes",
    "q_shard_manifest",
    "q_bpe_merge_step",
    "q_audio_vad",
    "q_stl_decompose",
    "q_blocking_quality",
    "q_bootstrap_ci",
    "q_partition_evolution",
    "q_keyword_search",
    "q_asof_cogroup",
    "q_capped_runsum",
    # round-3 continuation additions (newest — need their first driver row)
    "q_chunk_overlap",
    "q_heavy_hitters",
    "q_regression",
    "q_pareto_frontier",
    "q_dedup_ppjoin",
    "q_sql_udf",
    "q_deletion_vectors",
    "q_stream_join_outer",
    "q_triangle_count",
    "q_market_basket",
    "q_funnel_windowed",
    "q_multimodal_phash_dedup",
    "q_seasonal_anomaly",
    "q_cusum_changepoint",
    # round-3 additions (new this round — need their first driver row).
    # q_value_percentiles_approx stays in-cap per VERDICT "do this" #2
    # (its r02 row was the canonicalizer crash; the flattened form needs
    # a clean driver row).
    "q_synth_source",
    "q_udtf_shingles",
    "q_bigram_lm",
    "q_pq_assign",
    "q_gap_fill",
    "q_pagerank",
    "q_value_percentiles_approx",
    "q_schema_evolution",
    "q_session_stream",
    # round-3 continuation (this session) — queue behind the earlier
    # never-checked queries; the checked-history rotation in all_queries()
    # moves them into the cap as older entries earn driver rows.
    "q_bm25",
    "q_ks_drift",
    "q_weighted_sample",
    "q_kcore",
    "q_isotonic",
    "q_conformal",
    "q_kaplan_meier",
    "q_theilsen",
    "q_quantile_norm",
    "q_cuped",
    "q_eb_shrinkage",
    "q_ece",
    "q_rouge_pairs",
    "q_dedup_editdist",
    "q_cramers_v",
    "q_mann_kendall",
    # --- 50-row driver cap lands exactly here (names above get driver
    # CORRECTNESS rows; everything below is next in line and covered by the
    # local mirror suite at two SFs either way) ---
    # round-3 second-continuation additions (newest first in the overflow)
    "q_bpe_encode",
    "q_dsir_weights",
    "q_bfs_hops",
    "q_exact_quantile_bisect",
    "q_epoch_shuffle",
    "q_kmv_distinct",
    "q_kcenter_coreset",
    "q_recursive_cte",
    "q_label_propagation",
    "q_attribution",
    "q_dense_ids",
    "q_mrl_truncation",
    "q_dau_wau_mau",
    "q_gini_concentration",
    "q_sax_motifs",
    "q_rendezvous_shards",
    "q_vocab_growth",
    "q_ewma_control",
    "q_lm_holdout",
    "q_k_anonymity",
    "q_stream_neardup",
    "q_als_user_step",
    "q_secure_read",
    "q_auc",
    "q_multimodal_arrow_fp",
    "q_lsh_calibration",
    "q_fifo_match",
    "q_forecast_backtest",
    "q_target_encoding",
    "q_gains_chart",
    "q_udtf_polymorphic",
    "q_quality_gate",
    "q_dedup_chargram",
    "q_embedding_quantize",
    "q_cube_metrics",
    "q_stream_join",
    "q_time_travel",
    "q_incremental_rollup",
    "q_dedup_segments",
    "q_event_unpivot",
    "q_collocations",
    "q_window_navigation",
    "q_snapshot_diff",
    "q_cdf_incremental_rollup",
    "q_variant_extract",
    "q_session_dynamic",
    "q_weighted_median",
    "q_ab_welch",
    "q_semi_anti",
    "q_full_outer_audit",
    "q_correlated_subquery",
    "q_user_profile_state",
    "q_grouping_sets",
    "q_drift_chisq",
    "q_funnel",
    "q_retention",
    "q_markov_transitions",
    "q_kfold_split",
    "q_reservoir_sample",
    "q_histogram",
    "q_anomaly_mad",
    "q_rfm_segments",
    "q_oov_rate",
    "q_top_parts_per_nation",
    "q_hopping_window",
    # Everything below is mirror-verified at two SFs locally either way;
    # first in line if the driver checks more than 50.
    "q_dedup_agreement",
    "q_data_mixture",
    "q_stratified_sample",
    "q_multimodal_features",
    "q_multimodal_resize",
    "q_multimodal_frames",
    "q_multimodal_bytes",
    "q_augment_dropout",
    "q_length_buckets",
    "q_trimmed_stats",
    "q_inverted_index",
    "q_scd2_point_in_time",
    "q_expectations",
    "q_benford",
    "q_equidepth_histogram",
    "q_table_checksum",
    # r01-green / rows-only tail: each already has a green driver row
    # (r01), or is rows-only by design (LSH/IVF semantics pinned by
    # recall tests in tests/test_llm_ops.py plus the r7 hash-oracled
    # step twins; q_similarity_bruteforce_pandas gained a full hash
    # oracle in r8 — the quantized-integer GEMM reproduces _topk_sql
    # bit-for-bit — so the rotation re-presents it).
    "q_activity_score",
    "q_dedup_embedding",
    "q_similarity_topk",
    "q_multimodal_meta",
    "q_dedup_prod_pipeline",
    "q_dedup_minhash_prod",
    "q_similarity_lsh",
    "q_similarity_bruteforce_pandas",
    "q_similarity_ivf",
    "q_unique_users_approx",
    "q_hll_rollup",
    "q_cdc_windowed",
    # round-5 additions — deliberately LAST among the never-checked pool:
    # VERDICT r04 #1 caps additions so the 142-query driver-verification
    # backlog drains first (the rotation puts never-checked names first
    # in _DRIVER_PRIORITY order; appending here keeps the r1-r4 backlog
    # ahead of anything new).
    "q_spatial_knn_exact",
    "q_dbscan",
    "q_wasserstein",
    "q_idw_interpolation",
    # round-6 additions — same cap discipline (VERDICT r05 #1: <=5 new,
    # appended BEHIND the backlog so the never-checked pool drains first).
    "q_pca_project_step",
    # round-7 additions — oracle-bearing step twins for the rows-only ANN
    # scale paths (VERDICT r06 #4). Appended BEHIND the 50-query backlog:
    # the r07 driver window is exactly that backlog, so these first get
    # driver rows in r08; locally they're hash-verified at two SFs like
    # everything else.
    "q_lsh_bucket_step",
    "q_ivf_assign_step",
    "q_pq_adc_step",
    # round-8 additions (VERDICT r07 #2/#4) — appended per the cap
    # discipline. q_pca_gram_step pins principal_components' Gram collect
    # (the q_pca_project_step precedent: both eigh inputs now oracle-
    # certified); the mixedcase pair runs the normalization stack over the
    # adversarial mixed-case/unicode fixture the all-lowercase corpus
    # cannot exercise (the r7 lower()-after-strip bug class).
    "q_pca_gram_step",
    "q_mixedcase_fingerprint",
    "q_mixedcase_dedup",
    # round-10 additions (cap discipline: 2 new, appended last) — the
    # asymmetric ingestion-dedup join (batch vs standing corpus) and the
    # content-defined-chunking primitive (rolling-window md5 boundaries).
    "q_dedup_incremental",
    "q_content_chunking",
    # round-10 third addition — the domain-cap curation op (salted
    # two-phase per-source top-N; see llm/curation.py).
    "q_source_quota",
]

# Queries whose COMMITTED OUTPUT SEMANTICS changed in a given round: a
# clean driver row from an EARLIER round verified the old semantics, so
# the rotation must not let it keep the query outside the driver cap —
# eligible_round() treats such rows as never-verified until a window at
# or after the change round lands a fresh clean row (which then clears
# the entry naturally: rnd >= change round).
_SEMANTICS_CHANGED: dict[str, int] = {
    # r9 candidate/score factoring + absolute df ceiling changed the
    # committed pair set (sf0.1 1684 -> 32 983); the r09 window predates
    # its rotation slot, so its newest driver row still reflects the old
    # semantics (VERDICT r9 "What's wrong" #3 / next-round #3).
    "q_dedup_chargram": 9,
}


def all_queries() -> dict[str, QuerySpec]:
    # Import side-effect modules that register queries.
    from .operators import relational  # noqa: F401
    from .operators import analytics  # noqa: F401
    from .operators import windows  # noqa: F401
    from .operators import serving  # noqa: F401
    from .operators import ml_features  # noqa: F401
    from .operators import asof  # noqa: F401
    from .operators import scale  # noqa: F401
    from .operators import evolution  # noqa: F401
    from .operators import graph  # noqa: F401
    from .operators import behavior  # noqa: F401
    from .operators import cdf  # noqa: F401
    from .operators import frequency  # noqa: F401
    from .operators import modern_sql  # noqa: F401
    from .operators import zorder  # noqa: F401
    from .operators import inference  # noqa: F401
    from .operators import spatial  # noqa: F401
    from .operators import experiments  # noqa: F401
    from .operators import commerce  # noqa: F401
    from .operators import forensics  # noqa: F401
    from .operators import marketing  # noqa: F401
    from . import catalog  # noqa: F401
    from . import mor  # noqa: F401
    from . import pipelines  # noqa: F401
    from .llm import bpe  # noqa: F401
    from .llm import text  # noqa: F401
    from .llm import quality  # noqa: F401
    from .llm import quantize  # noqa: F401
    from .llm import dedup  # noqa: F401
    from .llm import similarity  # noqa: F401
    from .llm import pca  # noqa: F401
    from .llm import adversarial  # noqa: F401
    from .llm import multimodal  # noqa: F401
    from .llm import curation  # noqa: F401
    from .llm import chunking  # noqa: F401
    from .llm import ppjoin  # noqa: F401
    from .functions import udtfs  # noqa: F401
    from .sources import pysource  # noqa: F401
    from .streaming import batch_equiv  # noqa: F401
    from .streaming import replay  # noqa: F401

    base: dict[str, QuerySpec] = {}
    for name in _DRIVER_PRIORITY:
        if name in _REGISTRY:
            base[name] = _REGISTRY[name]
    for name, spec in _REGISTRY.items():
        base.setdefault(name, spec)

    # Driver-cap rotation: the driver's correctness harness only records
    # rows for the FIRST ~50 queries in iteration order, but the registry
    # holds ~200. Rather than hand-curating the cap every round, order by
    # least-recently-driver-verified (per the accumulated, git-tracked
    # CORRECTNESS_r*.json history in the repo root): never-verified
    # queries first, then ascending by the round of their last clean row,
    # preserving _DRIVER_PRIORITY order within each class. Once the
    # never-checked pool drains, previously-verified queries are
    # re-admitted oldest-first, so a later regression in an
    # already-checked query is eventually re-caught by the driver (not
    # excluded forever). A 'no_oracle' row only counts as verified while
    # the query genuinely has no oracle; if an oracle has since been
    # added, the query is re-presented for a real hash check. Ordering
    # depends only on committed artifacts + registration order, so it is
    # reproducible across checkouts; set LAKEHOUSE_NO_ROTATION=1 to get
    # pure registration order (local determinism / debugging). Locally
    # everything is verified by tests/test_oracle_parity.py at two SFs
    # regardless of position.
    import os

    if os.environ.get("LAKEHOUSE_NO_ROTATION"):
        return base
    last_round = _driver_verified_rounds()
    names = list(base)
    pos = {n: i for i, n in enumerate(names)}

    def eligible_round(n: str) -> int:
        row = last_round.get(n)
        if row is None:
            return -1
        rnd, hash_verified = row
        if not hash_verified and base[n].oracle is not None:
            return -1  # oracle exists now; the rows-only row doesn't count
        if rnd < _SEMANTICS_CHANGED.get(n, 0):
            return -1  # clean row predates a semantic change; re-present
        return rnd

    names.sort(key=lambda n: (eligible_round(n), pos[n]))
    return {n: base[n] for n in names}


def _driver_verified_rounds(root: str | None = None) -> dict[str, tuple[int, bool]]:
    """name -> (latest round with a clean driver row, was it hash-verified).

    A row counts as clean when the harness completed without error and
    nothing mismatched; 'no_oracle' is the rows-only path completing (a
    weaker signal, flagged hash_verified=False). Crashed or mismatching
    rows don't count, so the query is re-presented inside the cap next
    round.
    """
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    verified: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            err = row.get("err")
            if err is not None and err != "no_oracle":
                continue
            if row.get("rows_match") is False or row.get("hash_match") is False:
                continue
            if row.get("schema_match") is False:
                continue
            hash_ok = row.get("hash_match") is True
            prev = verified.get(name)
            if prev is None or rnd >= prev[0]:
                # same-name rows across rounds: keep the newest; within a
                # round a hash-verified row outranks a rows-only one
                if prev is not None and rnd == prev[0]:
                    hash_ok = hash_ok or prev[1]
                verified[name] = (rnd, hash_ok)
    return verified
