"""The driver-cap rotation: queries are ordered least-recently-driver-
verified (never-verified first, then ascending by the round of their last
clean row in the accumulated CORRECTNESS_r*.json history), so the ~50-row
driver gate cycles through the whole registry over rounds AND re-admits
long-unchecked queries once the fresh pool drains. These tests pin the
history parser and the reordering contract."""

from __future__ import annotations

import json
import os

from nyc_taxi_lakehouse_spark.registry import _driver_verified_rounds, all_queries


def _write(tmp_path, name, rows):
    (tmp_path / name).write_text(json.dumps(rows))


def test_verified_rounds_parse_rules(tmp_path):
    _write(
        tmp_path,
        "CORRECTNESS_r01.json",
        {
            "q_green": {"rows_match": True, "schema_match": True,
                        "hash_match": True, "err": None},
            "q_rows_only": {"rows_match": True, "schema_match": None,
                            "hash_match": None, "err": "no_oracle"},
            "q_crashed": {"rows_match": None, "schema_match": None,
                          "hash_match": None, "err": "TypeError: boom"},
            "q_wrong": {"rows_match": True, "schema_match": True,
                        "hash_match": False, "err": None},
        },
    )
    _write(
        tmp_path,
        "CORRECTNESS_r02.json",
        {"q_late_green": {"rows_match": True, "schema_match": True,
                          "hash_match": True, "err": None}},
    )
    got = _driver_verified_rounds(str(tmp_path))
    # green rows carry (round, hash_verified=True); rows-only completions
    # carry hash_verified=False; crashes and mismatches don't count at all
    assert got == {
        "q_green": (1, True),
        "q_rows_only": (1, False),
        "q_late_green": (2, True),
    }


def test_verified_rounds_keep_latest(tmp_path):
    _write(
        tmp_path,
        "CORRECTNESS_r01.json",
        {"q_a": {"rows_match": True, "schema_match": True,
                 "hash_match": True, "err": None}},
    )
    _write(
        tmp_path,
        "CORRECTNESS_r03.json",
        {"q_a": {"rows_match": True, "schema_match": True,
                 "hash_match": True, "err": None}},
    )
    assert _driver_verified_rounds(str(tmp_path))["q_a"] == (3, True)


def test_verified_rounds_ignore_garbage(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text("not json {")
    _write(tmp_path, "CORRECTNESS_r02.json", {"q_ok": {"err": None}})
    assert _driver_verified_rounds(str(tmp_path)) == {"q_ok": (2, False)}


def test_rotation_puts_unverified_first():
    """Against the real repo history: the head of iteration must be names
    without a counting driver row (a 'no_oracle' row stops counting once
    the query has an oracle), ordered before anything already verified."""
    lr = _driver_verified_rounds()
    q = all_queries()
    names = list(q)

    def verified(n):
        row = lr.get(n)
        if row is None:
            return False
        if not row[1] and q[n].oracle is not None:
            return False
        return True

    unchecked_total = sum(1 for n in names if not verified(n))
    head = names[: min(50, unchecked_total)]
    assert all(not verified(n) for n in head)
    # and nothing is lost or duplicated by the reordering
    assert len(names) == len(set(names))


def test_rotation_readmits_oldest_verified_after_pool_drains():
    """Among verified queries, iteration order is ascending by the round
    of their last clean driver row — least-recently-verified re-enter the
    driver cap first once no never-checked queries remain."""
    lr = _driver_verified_rounds()
    q = all_queries()
    rounds = []
    for n in q:
        row = lr.get(n)
        if row is None or (not row[1] and q[n].oracle is not None):
            rounds.append(-1)
        else:
            rounds.append(row[0])
    assert rounds == sorted(rounds)

