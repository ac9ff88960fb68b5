"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine reads (``sources.tables.TABLES``) as one
parquet file each, with the same column names, types and value domains as
the engine's synthetic test data: a TPC-H-like star schema, a 30-day
``events`` stream, short ``documents`` over a small vocabulary (with exact
and near duplicates, so the dedup operators have work) and unit-norm
64-dimensional ``embeddings`` clustered by label. Every column is drawn from
``numpy.random.default_rng(seed)``, so one seed always gives the same files.

Row counts scale with ``sf`` like the test data (lineitem = 6,000,000 x sf);
documents and embeddings keep a floor of 500 rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "green", "hot", "large", "red", "small", "tiny"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ids(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(8, 100, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    # ~0.5% exact copies and ~2% one-word edits of earlier documents.
    for i in range(1, n):
        r = rng.random()
        if r < 0.005:
            texts[i] = texts[rng.integers(0, i)]
        elif r < 0.025:
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
            texts[i] = " ".join(words)
    return pa.table(
        {
            "doc_id": _ids(n),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centroids = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n).astype(np.int32)
    vecs = centroids[label] + rng.normal(scale=2.0, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": _ids(n),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": label,
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(150_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    region = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    nation = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pa.table(
        {
            "c_custkey": _ids(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": _ids(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = _ids(n_part)
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": _ids(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900, 105000),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    span_us = 30 * _DAY_US - 60_000_000
    ts = _EPOCH_2024 + np.sort(rng.integers(0, span_us, n_ev))
    events = pa.table(
        {
            "event_id": _ids(n_ev),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }


def write(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts
