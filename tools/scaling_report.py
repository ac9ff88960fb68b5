#!/usr/bin/env python
"""Scaling report: wall-clock at sf0.01 vs sf0.1 (10x data) for the
compute-heavy queries. Ratio ~10 = linear; >>10 = output-bound or
superlinear (each case must be documented in PLANS.md/BASELINE.md)."""
import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from nyc_taxi_lakehouse_spark.plans.ckpt import release_run_checkpoints
from nyc_taxi_lakehouse_spark.registry import all_queries
from nyc_taxi_lakehouse_spark.session import get_spark

HEAVY = [
    "q_dedup_ppjoin", "q_dedup_minhash", "q_dedup_simhash_pairs",
    "q_triangle_count", "q_dedup_prod_pipeline", "q_dedup_clusters",
    "q_dedup_chargram", "q_dedup_containment", "q_market_basket",
    "q_pagerank", "q_ingest_clean", "q_zone_performance",
    "q_bfs_hops", "q_label_propagation", "q_kcenter_coreset",
    "q_dsir_weights",
]

def t(spark, spec, sf_dir):
    best = 1e9
    for _ in range(2):
        t0 = time.time(); n = spec.fn(spark, sf_dir).count(); best = min(best, time.time() - t0)
        release_run_checkpoints()  # per-consume, ADVICE r9
    return best, n

def main():
    # --decade: measure sf0.1 -> the derived 10x dataset (sf1-equivalent,
    # built by tools/make_scale_decade.py) instead of sf0.01 -> sf0.1.
    # SCALE_QUERIES=csv overrides the heavy-16 (the r9 mid-tier sweep).
    # SCALE_LO/SCALE_HI override the dataset dirs — the r11 two-decade
    # curves run lo=/tmp/sf1_decade hi=/tmp/sf10_decade (100x bench SF).
    decade = "--decade" in sys.argv
    lo = "/root/testdata/sf0.1" if decade else "/root/testdata/sf0.01"
    hi = "/tmp/sf1_decade" if decade else "/root/testdata/sf0.1"
    lo = os.environ.get("SCALE_LO", lo)
    hi = os.environ.get("SCALE_HI", hi)
    sel = os.environ.get("SCALE_QUERIES", "")
    names = [n for n in sel.split(",") if n] or HEAVY
    spark = get_spark()
    specs = all_queries()
    # warm the session
    spark.read.parquet(f"{lo}/lineitem.parquet").count()
    print(f"{'query':28s} {'t(lo)':>8s} {'t(hi)':>8s} {'ratio':>6s} {'rows_lo':>9s} {'rows_hi':>9s}   [{lo} -> {hi}]")
    for name in names:
        s1, n1 = t(spark, specs[name], lo)
        s2, n2 = t(spark, specs[name], hi)
        print(f"{name:28s} {s1:8.2f} {s2:8.2f} {s2/s1:6.1f} {n1:9d} {n2:9d}", flush=True)

if __name__ == "__main__":
    main()
