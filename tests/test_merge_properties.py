"""Property-based test: LakeTable.merge_upsert implements the Debezium CDC
contract (keyed last-write-wins by source ts, deletes remove) for ANY op
sequence — checked against a plain-dict reference model.

Few, large-ish examples: each example costs several Spark jobs, so settings
trade example count for batch variety within each sequence.
"""

from __future__ import annotations

import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nyc_taxi_lakehouse_spark.lake import LakeTable

# An op: (key 0..5, ts 0..50, value, is_delete)
op_st = st.tuples(
    st.integers(0, 5),
    st.integers(0, 50),
    st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    st.booleans(),
)
batches_st = st.lists(st.lists(op_st, min_size=1, max_size=8), min_size=1, max_size=4)


def model_apply(model: dict, batch: list) -> None:
    # Within a batch: last-write-wins by ts (ties broken by nothing — make ts
    # unique within batch before applying, mirroring Debezium's monotonic
    # source ts per key per batch).
    best: dict = {}
    for key, ts, val, is_del in batch:
        if key not in best or ts > best[key][0]:
            best[key] = (ts, val, is_del)
    for key, (ts, val, is_del) in best.items():
        if is_del:
            model.pop(key, None)
        else:
            model[key] = val


def dedupe_ts(batch: list) -> list:
    """Make ts unique per key within a batch (the merge contract assumes a
    total order per key; real CDC ts_ms is monotone per key)."""
    seen: dict = {}
    out = []
    for key, ts, val, is_del in batch:
        while (key, ts) in seen:
            ts += 1
        seen[(key, ts)] = True
        out.append((key, ts, val, is_del))
    return out


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(batches=batches_st)
def test_merge_upsert_matches_model(spark, batches):
    path = tempfile.mkdtemp(prefix="merge_prop_")
    try:
        table = LakeTable(spark, f"{path}/t")
        model: dict = {}
        for batch in batches:
            batch = dedupe_ts(batch)
            updates = spark.createDataFrame(
                [(k, t, v, d) for k, t, v, d in batch],
                "event_id int, cdc_ts int, value float, __delete boolean",
            )
            table.merge_upsert(
                updates, keys=["event_id"], order_col="cdc_ts", delete_col="__delete"
            )
            model_apply(model, batch)
            got = {r.event_id: round(r.value, 4) for r in table.read().collect()}
            want = {k: round(v, 4) for k, v in model.items()}
            assert got == want, f"batch={batch}\ngot={got}\nwant={want}"
    finally:
        shutil.rmtree(path, ignore_errors=True)
