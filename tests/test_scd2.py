"""SCD Type 2 lifecycle tests (reference semantics from
delta_to_postgres_scd.py: close-then-insert, DO-NOTHING drop of unchanged
rows, one current row per key)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from delta_unity_duckdb_spark.operators.scd2 import (
    scd2_apply,
    scd2_invariant_violations,
    sync_scd2,
    with_surrogate_key,
)

KEYS = ["mission_id"]
TRACKED = ["status", "name"]


def _batch(spark, rows):
    return spark.createDataFrame(rows, "mission_id long, status string, name string")


def ts(s):
    return F.lit(s).cast("timestamp")


def test_initial_load_all_current(spark):
    b1 = _batch(spark, [(1, "active", "a"), (2, "active", "b")])
    out = scd2_apply(None, b1, KEYS, TRACKED, ts("2024-01-01 00:00:00"))
    rows = {r["mission_id"]: r for r in out.collect()}
    assert len(rows) == 2
    assert all(r["is_current"] and r["end_date"] is None for r in rows.values())
    assert scd2_invariant_violations(out, KEYS) == {
        "duplicate_current_keys": 0,
        "end_date_mismatches": 0,
    }


def test_change_closes_and_inserts(spark):
    b1 = _batch(spark, [(1, "active", "a"), (2, "active", "b")])
    state1 = scd2_apply(None, b1, KEYS, TRACKED, ts("2024-01-01 00:00:00"))
    b2 = _batch(spark, [(1, "done", "a"), (2, "active", "b"), (3, "new", "c")])
    state2 = scd2_apply(state1, b2, KEYS, TRACKED, ts("2024-02-01 00:00:00"))

    rows = state2.orderBy("mission_id", "effective_date").collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r["mission_id"], []).append(r)

    # key 1 changed: old version closed at the new effective ts, new current
    assert len(by_key[1]) == 2
    old, new = by_key[1]
    assert not old["is_current"] and str(old["end_date"]).startswith("2024-02-01")
    assert new["is_current"] and new["status"] == "done"
    # key 2 unchanged: single untouched current version (DO-NOTHING drop)
    assert len(by_key[2]) == 1 and by_key[2][0]["is_current"]
    assert str(by_key[2][0]["effective_date"]).startswith("2024-01-01")
    # key 3 new: inserted current
    assert len(by_key[3]) == 1 and by_key[3][0]["is_current"]
    assert scd2_invariant_violations(state2, KEYS) == {
        "duplicate_current_keys": 0,
        "end_date_mismatches": 0,
    }


def test_null_change_detection_is_null_correct(spark):
    """NULL → '' IS a change here (documented divergence from the
    reference's COALESCE(col,'') collapse, SURVEY.md §7.3)."""
    b1 = _batch(spark, [(1, None, "a")])
    state1 = scd2_apply(None, b1, KEYS, TRACKED, ts("2024-01-01 00:00:00"))
    b2 = _batch(spark, [(1, "", "a")])
    state2 = scd2_apply(state1, b2, KEYS, TRACKED, ts("2024-02-01 00:00:00"))
    assert state2.count() == 2  # closed old + new current
    # and NULL → NULL is NOT a change
    b3 = _batch(spark, [(1, "", "a")])
    state3 = scd2_apply(state2, b3, KEYS, TRACKED, ts("2024-03-01 00:00:00"))
    assert state3.count() == 2


def test_intra_batch_dupes_deduped(spark):
    b = _batch(spark, [(1, "x", "a"), (1, "y", "b")])
    out = scd2_apply(None, b, KEYS, TRACKED, ts("2024-01-01 00:00:00"))
    assert out.count() == 1  # deterministic survivor, invariant preserved


def test_column_mapping(spark):
    src = spark.createDataFrame(
        [(1, "active", "a")], "id long, state string, name string"
    )
    out = scd2_apply(
        None,
        src,
        KEYS,
        TRACKED,
        ts("2024-01-01 00:00:00"),
        column_mapping={"id": "mission_id", "state": "status"},
    )
    r = out.collect()[0]
    assert r["mission_id"] == 1 and r["status"] == "active"


def test_surrogate_key_deterministic(spark):
    b1 = _batch(spark, [(2, "x", "b"), (1, "y", "a")])
    state = scd2_apply(None, b1, KEYS, TRACKED, ts("2024-01-01 00:00:00"))
    k1 = with_surrogate_key(state, KEYS).orderBy("scd_id").collect()
    k2 = with_surrogate_key(state, KEYS).orderBy("scd_id").collect()
    assert [r["scd_id"] for r in k1] == [1, 2]
    assert k1 == k2


def test_sync_scd2_materialized_lifecycle(spark, tmp_path):
    target = str(tmp_path / "missions_scd")
    b1 = _batch(spark, [(1, "active", "a"), (2, "active", "b")])
    s1 = sync_scd2(spark, b1, target, KEYS, TRACKED, ts("2024-01-01 00:00:00"))
    assert (s1["total_rows"], s1["current_rows"]) == (2, 2)

    b2 = _batch(spark, [(1, "done", "a"), (3, "new", "c")])
    s2 = sync_scd2(spark, b2, target, KEYS, TRACKED, ts("2024-02-01 00:00:00"))
    assert (s2["total_rows"], s2["current_rows"]) == (4, 3)

    out = spark.read.parquet(target)
    assert scd2_invariant_violations(out, KEYS) == {
        "duplicate_current_keys": 0,
        "end_date_mismatches": 0,
    }
    # third sync with no changes is a no-op
    s3 = sync_scd2(spark, b2, target, KEYS, TRACKED, ts("2024-03-01 00:00:00"))
    assert (s3["total_rows"], s3["current_rows"]) == (4, 3)


def _state(spark, target):
    return sorted(tuple(r) for r in spark.read.parquet(target).collect())


def test_sync_scd2_counts_match_reread(spark, tmp_path):
    """The summary counts come from the write job itself; they must equal
    a fresh read of the swapped-in target, and the swap leaves no staging
    or retired directory beside it."""
    target = str(tmp_path / "missions_scd")
    batches = [
        [(1, "active", "a"), (2, "active", "b")],
        [(1, "done", "a"), (3, "new", "c")],
        [(2, None, "b"), (3, "new", "c"), (4, "x", None)],
    ]
    for i, rows in enumerate(batches):
        s = sync_scd2(spark, _batch(spark, rows), target, KEYS, TRACKED,
                      ts(f"2024-0{i + 1}-01 00:00:00"))
        out = spark.read.parquet(target)
        assert (s["total_rows"], s["current_rows"]) == (
            out.count(),
            out.filter(F.col("is_current")).count(),
        )
    assert (s["total_rows"], s["current_rows"]) == (6, 4)
    assert os.listdir(tmp_path) == ["missions_scd"]


def test_sync_scd2_failed_write_keeps_target(spark, tmp_path):
    """A sync whose write fails at run time leaves the previous target
    readable with the same rows and no staging directory behind."""
    target = str(tmp_path / "missions_scd")
    sync_scd2(spark, _batch(spark, [(1, "active", "a"), (2, "active", "b")]),
              target, KEYS, TRACKED, ts("2024-01-01 00:00:00"))
    before = _state(spark, target)
    bad = _batch(spark, [(1, "done", "a"), (3, "new", "c")]).withColumn(
        "status",
        F.when(F.col("mission_id") == 3, F.raise_error(F.lit("tracked column failed")))
        .otherwise(F.col("status")),
    )
    with pytest.raises(Exception, match="tracked column failed"):
        sync_scd2(spark, bad, target, KEYS, TRACKED, ts("2024-02-01 00:00:00"))
    assert _state(spark, target) == before
    assert os.listdir(tmp_path) == ["missions_scd"]
