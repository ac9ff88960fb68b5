"""Differential tests: every registered query vs its DuckDB oracle at sf0.01.

This mirrors the driver's t2 correctness gate (CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

import pytest

from nyc_taxi_lakehouse_spark.registry import all_queries

from .oracle import compare, duck_connection

SPECS = all_queries()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="module")
def duck_smoke():
    from .conftest import SF_SMOKE

    con = duck_connection(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_parity(name, spark, sf_dir, duck):
    spec = SPECS[name]
    result = spec.fn(spark, sf_dir)
    if spec.oracle is None:
        # Rows-only check, same as the driver's weaker path.
        assert result.count() >= 0
        return
    expected = duck.execute(spec.oracle).fetchdf()
    compare(result, expected, name)


@pytest.mark.parametrize("name", sorted(n for n in SPECS if SPECS[n].oracle))
def test_query_parity_smoke_sf(name, spark, duck_smoke):
    """Same gate at the SMALLEST scale factor. Tiny data hits different
    numeric edge cases — an sf0.001-only run caught a cross-engine ROUND
    divergence (dround in detsql.py) that sf0.01/sf0.1 never exposed."""
    from .conftest import SF_SMOKE

    spec = SPECS[name]
    result = spec.fn(spark, SF_SMOKE)
    expected = duck_smoke.execute(spec.oracle).fetchdf()
    compare(result, expected, name)


# Scale-dependent divergence has bitten before (dround: an sf0.001-only
# cross-engine ROUND bug) — so a third scale factor spot-checks a
# representative fast subset at sf0.1. Heavy queries (minhash, clusters,
# similarity) are excluded to keep suite time bounded; they are covered at
# sf0.01/sf0.001 and by bench.
SF01_SPOT = [
    "q_ingest_clean",
    "q_sessionization",
    "q_seq_packing",
    "q_token_bpe",
    "q_asof_join",
    "q_rank_report",
    "q_rollup_report",
    "q_value_percentiles",
    "q_winnow_fingerprint",
    "q_data_mixture",
    # round-3 representatives (fast at sf0.1)
    "q_quality_gate",
    "q_cube_metrics",
    "q_embedding_quantize",
    "q_event_unpivot",
    "q_collocations",
    "q_incremental_rollup",
    "q_multimodal_features",
    # round-3 continuation representatives (fast at sf0.1): the iterative
    # graph fixpoint, the single-pass funnel, PQ assignment, the interval
    # gap-fill rewrite, and the SCD2 containment join.
    "q_pagerank",
    "q_funnel",
    "q_pq_assign",
    "q_gap_fill",
    "q_scd2_point_in_time",
    # this session's additions (all sub-second at sf0.1)
    "q_dedup_containment",
    "q_dup_spans",
    "q_event_pattern",
    "q_skew_report",
    "q_countmin_freq",
    "q_max_concurrency",
    "q_scene_changes",
    "q_shard_manifest",
]


@pytest.fixture(scope="module")
def duck_sf01():
    con = duck_connection("/root/testdata/sf0.1")
    yield con
    con.close()


@pytest.mark.parametrize("name", SF01_SPOT)
def test_query_parity_sf01_spot(name, spark, duck_sf01):
    spec = SPECS[name]
    result = spec.fn(spark, "/root/testdata/sf0.1")
    expected = duck_sf01.execute(spec.oracle).fetchdf()
    compare(result, expected, name)


def test_every_query_in_a_default_sweep():
    """The default run's sampling must still exercise every registered
    query in at least one registry-wide sweep (a query with no oracle
    cannot run in the smoke-SF sweep, so its residue must land elsewhere)."""
    from .conftest import sampled_in

    oracle_names = {n for n in SPECS if SPECS[n].oracle}
    sweeps = {
        ("test_oracle_parity.py", "test_query_parity"): set(SPECS),
        ("test_oracle_parity.py", "test_query_parity_smoke_sf"): oracle_names,
        ("test_plan_lint.py", "test_no_unbounded_plan_shapes"): set(SPECS),
        ("test_plan_lint.py", "test_driver_safe_output_schema"): set(SPECS),
    }
    missed = sorted(
        n for n in SPECS
        if not any(n in names and sampled_in(f, b, n)
                   for (f, b), names in sweeps.items())
    )
    assert not missed, missed
