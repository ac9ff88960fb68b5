"""Physical-plan audit toolkit — the programmatic form of the PLANS.md
discipline ("explain every operator, iterate until it's the plan you want").

Three levels:

- plan_flags(df): the scale-killer screen (cartesian product, broadcast
  nested-loop join, single-partition exchange) — the same predicate
  tests/test_plan_lint.py applies to every registered query.
- executed_metrics(df): AFTER an action, walk the executed plan tree and
  return each node's SQL metrics (rows produced, shuffle bytes/records,
  spill sizes...) — measured facts, not estimates. This is how the bench
  numbers in BASELINE.md were attributed to operators.
- audit(df): one dict combining both, ready to log or assert on.

Everything reads Spark's own QueryExecution via py4j — no parsing of
explain strings beyond the three flag substrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

FLAG_SUBSTRINGS = {
    "cartesian": "CartesianProduct",
    "bnlj": "BroadcastNestedLoopJoin",
    "single-part": "Exchange SinglePartition",
}


def plan_flags(df: DataFrame) -> set[str]:
    """Scale-killer flags present in df's executed plan (pre-action: the
    initial AQE plan; post-action: the final adaptive plan)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {flag for flag, needle in FLAG_SUBSTRINGS.items() if needle in plan}


def _walk(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i))


def _node_metrics(node) -> dict[str, int]:
    out: dict[str, int] = {}
    entries = node.metrics().toList()
    for i in range(entries.size()):
        kv = entries.apply(i)
        out[kv._1()] = kv._2().value()
    return out


def executed_metrics(df: DataFrame) -> list[dict]:
    """Per-node measured SQL metrics of df's (executed) plan. Call AFTER an
    action on df so the metrics are populated and AQE is final. Adaptive
    wrapper nodes are descended into via their current physical plan."""
    root = df._jdf.queryExecution().executedPlan()
    rows = []
    stack = [root]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        rows.append({"node": name, "metrics": _node_metrics(node)})
        if "QueryStage" in name:
            # AQE stage wrappers (ShuffleQueryStage / ResultQueryStage /
            # BroadcastQueryStage) hold their subtree behind .plan(), not
            # .children().
            stack.append(node.plan())
            continue
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return rows


def shuffle_bytes_written(df: DataFrame) -> int:
    """Total shuffle bytes written across the plan (post-action). The single
    number to watch when iterating on a join/agg strategy."""
    total = 0
    for row in executed_metrics(df):
        for key, value in row["metrics"].items():
            if key == "shuffleBytesWritten":
                total += value
    return total


def audit(df: DataFrame) -> dict:
    """One-call report: flags + per-node metrics + shuffle total."""
    nodes = executed_metrics(df)
    return {
        "flags": sorted(plan_flags(df)),
        "shuffle_bytes_written": sum(
            v
            for row in nodes
            for k, v in row["metrics"].items()
            if k == "shuffleBytesWritten"
        ),
        "nodes": nodes,
    }


def broadcast_hint_risks(df: DataFrame) -> list[str]:
    """Broadcast ResolvedHints in df's ANALYZED logical plan whose subtree
    reaches a LogicalRDD (localCheckpoint output) or a base-table relation
    without passing a structural boundedness barrier.

    The scale-killer class behind VERDICT r05 #2 / r06 #2: localCheckpoint
    hides size statistics from Catalyst, so an author reaching for
    F.broadcast to avoid the resulting sort-merge join has silently
    promised the relation fits in executor memory at EVERY data volume —
    wrong whenever it scales with the corpus (HITS scores, k-core
    frontiers, MoR tombstones). The fix is plans.gated_broadcast (hint
    only below a MEASURED row count); this linter rule makes the ungated
    form fail CI.

    A subtree is structurally bounded (descent stops, no flag) below:
    - GlobalLimit / LocalLimit — row count capped by a literal;
    - an Aggregate with NO grouping expressions — exactly one row.
    Grouped aggregates do NOT barrier: their cardinality is the group
    count, which is corpus-scaled for corpus-keyed groups. Sites whose
    bound is semantic rather than structural (k centroids, a calendar
    grain, a gated_broadcast that passed its gate at test scale) are
    whitelisted by name with the reason in tests/test_plan_lint.py —
    the same mechanism as the single-partition-window rule.

    Node matching is a PRECISE name set, not a substring: CTERelationRef
    (a SQL WITH reference) would otherwise flag — its definition lives in
    a separate CTERelationDef subtree this walker does not resolve, and
    the hint-over-checkpoint failure mode this rule targets only arises
    on the DataFrame API side.
    """
    risky_nodes = {
        "LogicalRDD",
        "LogicalRelation",
        "Relation",
        "HiveTableRelation",
        "UnresolvedCatalogRelation",
        "DataSourceV2Relation",
        "StreamingRelation",
        "StreamingRelationV2",
    }
    root = df._jdf.queryExecution().analyzed()
    hints = []
    stack = [root]
    while stack:
        node = stack.pop()
        if node.nodeName() == "ResolvedHint" and "broadcast" in node.simpleString(
            100
        ):
            hints.append(node)
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    risks = []
    for hint in hints:
        stack = []
        children = hint.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
        while stack:
            node = stack.pop()
            name = node.nodeName()
            if name in ("GlobalLimit", "LocalLimit"):
                continue
            if name == "Aggregate" and node.groupingExpressions().isEmpty():
                continue
            if name in risky_nodes:
                risks.append(f"broadcast hint reaches {name}")
                break
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
    return risks


# 200k rows x ~50 B/row ~ 10 MB: Spark's default autoBroadcastJoinThreshold.
GATED_BROADCAST_MAX_ROWS = 200_000


def gated_broadcast(df: DataFrame, n_rows: int, max_rows: int | None = None):
    """Broadcast hint gated on a MEASURED row count — the posture for
    corpus-scaled relations behind a localCheckpoint.

    localCheckpoint hides size statistics from Catalyst (LogicalRDD
    defaults to 'huge'), so an unhinted join of a checkpointed small table
    sort-merges at EVERY scale, while an unconditional F.broadcast hint
    broadcasts at every scale — wrong at 100 TB when the relation scales
    with the corpus (the q_hits scores / DBSCAN cores class, VERDICT
    r05 #2). The caller passes the row count it already
    knows (a bounded 1-row scalar off the checkpointed frame, or a bound
    derived from one); below the threshold the hint is safe by
    measurement, above it the join stays adaptive and shuffles.
    """
    from pyspark.sql import functions as F

    if max_rows is None:
        # Read the module var at CALL time (not as a def-time default) so
        # tests can monkeypatch the threshold to force the adaptive branch
        # on small data (tests/test_mor.py exercises both sides).
        max_rows = GATED_BROADCAST_MAX_ROWS
    return F.broadcast(df) if n_rows <= max_rows else df
