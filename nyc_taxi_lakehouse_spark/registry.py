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

    # Driver-cap rotation: the driver's correctness harness only records
    # rows for the FIRST 50 queries in iteration order, but the registry
    # holds ~300. So order by least-recently-driver-verified (per the
    # accumulated, git-tracked CORRECTNESS_r*.json history in the repo
    # root): never-verified queries first, then ascending by the round of
    # their last clean row, in registration order within each class.
    # Previously-verified queries are re-admitted oldest-first, so a later
    # regression in an already-checked query is eventually re-caught by
    # the driver (not excluded forever). A 'no_oracle' row only counts as
    # verified while the query genuinely has no oracle; if an oracle has
    # since been added, the query is re-presented for a real hash check.
    # Ordering depends only on committed artifacts + registration order,
    # so it is reproducible across checkouts. Locally everything is
    # verified by tests/test_oracle_parity.py at two SFs regardless of
    # position.
    last_round = _driver_verified_rounds()
    names = list(_REGISTRY)
    pos = {n: i for i, n in enumerate(names)}

    def eligible_round(n: str) -> int:
        row = last_round.get(n)
        if row is None:
            return -1
        rnd, hash_verified = row
        if not hash_verified and _REGISTRY[n].oracle is not None:
            return -1  # oracle exists now; the rows-only row doesn't count
        return rnd

    names.sort(key=lambda n: (eligible_round(n), pos[n]))
    return {n: _REGISTRY[n] for n in names}


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
