"""MERGE INTO edge cases pinned to exact results: matched-row counts,
file pruning and final table contents for NULL keys, duplicate target
keys, compound keys, key sets past the exact-pruning cap, every
when_matched / insert_not_matched combination, and merges that touch no
file at all (whose matched-row count must still arrive, not hang)."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from delta_unity_duckdb_spark.sources.delta_log import (
    merge_delta,
    read_delta,
    write_delta,
)

SCHEMA = "id long, v long, tag string"
BASE = [(i, i * 10, "base") for i in range(1000)]


def _target(spark, tmp_path, name, extra=()):
    t = str(tmp_path / name)
    df = spark.createDataFrame(BASE + list(extra), SCHEMA)
    write_delta(df.repartitionByRange(4, "id").sortWithinPartitions("id"), t)
    return t


def _merge(source, t, on, **kw):
    """merge_delta with a deadline: a matched-row count that never arrives
    fails the test instead of hanging the suite."""
    box: dict = {}

    def run():
        try:
            box["out"] = merge_delta(source, t, on=on, **kw)
        except Exception as e:  # re-raised on the test thread
            box["err"] = e

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(timeout=180)
    assert not th.is_alive(), "merge_delta did not return"
    if "err" in box:
        raise box["err"]
    return box["out"]


def _sort_key(row):
    return tuple((v is None, v) for v in row)


def _model(target, source, key, when_matched="update", insert_not_matched=True):
    """Reference MERGE semantics: NULL keys never match, every target row
    whose key the source holds is replaced (or deleted), unmatched source
    rows append when ``insert_not_matched``."""
    src_keys = {key(r) for r in source if None not in key(r)}
    tgt_keys = {key(r) for r in target if None not in key(r)}
    out = [r for r in target if key(r) not in src_keys]
    for r in source:
        matched = key(r) in tgt_keys
        if (matched and when_matched == "update") or (not matched and insert_not_matched):
            out.append(r)
    return sorted(out, key=_sort_key)


def _rows(spark, t):
    return sorted((tuple(r) for r in read_delta(spark, t).collect()), key=_sort_key)


def _pruning(res):
    return res["rows_matched"], res["files_rewritten"], res["files_skipped"]


by_id = lambda r: (r[0],)  # noqa: E731


@pytest.mark.parametrize(
    "name, extra, source, kw, expect",
    [
        # touches no file: the matched count comes from an empty plan
        ("pure_insert", [], [(5000, 1, "new"), (5001, 2, "new")], {}, (0, 0, 4)),
        ("empty_source", [], [], {}, (0, 0, 4)),
        ("null_keys", [(None, -1, "tnull")], [(None, 7, "snull"), (15, -5, "upd")], {}, (1, 1, 3)),
        # both target rows of key 10 count as matched, one source row replaces them
        ("dup_target_keys", [(10, 999, "dup")], [(10, -1, "upd")], {}, (2, 1, 3)),
        ("delete", [], [(5, 0, "x"), (6, 0, "x"), (3000, 1, "new")],
         {"when_matched": "delete"}, (2, 1, 3)),
        ("no_insert", [], [(4, -4, "upd"), (5000, 1, "new")],
         {"insert_not_matched": False}, (1, 1, 3)),
        ("delete_no_insert", [], [(4, -4, "upd"), (5000, 1, "new")],
         {"when_matched": "delete", "insert_not_matched": False}, (1, 1, 3)),
    ],
)
def test_merge_case(spark, tmp_path, name, extra, source, kw, expect):
    t = _target(spark, tmp_path, name, extra)
    res = _merge(spark.createDataFrame(source, SCHEMA), t, ["id"], **kw)
    assert _pruning(res) == expect
    assert res["version"] == 1
    assert _rows(spark, t) == _model(BASE + extra, source, by_id, **kw)


def test_merge_compound_key(spark, tmp_path):
    """Compound keys prune by the per-column min/max envelope; the
    duplicate-key check rides the same pass."""
    t = str(tmp_path / "compound")
    base = [(i // 100, i % 100, i * 10) for i in range(1000)]
    df = spark.createDataFrame(base, "a long, b long, v long")
    write_delta(df.repartitionByRange(4, "a", "b").sortWithinPartitions("a", "b"), t)
    source = [(1, 5, -1), (2, 7, -2), (2, 150, -3)]
    res = _merge(spark.createDataFrame(source, "a long, b long, v long"), t, ["a", "b"])
    assert _pruning(res) == (2, 2, 2)
    assert _rows(spark, t) == _model(base, source, lambda r: r[:2])
    dup = spark.createDataFrame([(1, 5, -1), (1, 5, -2)], "a long, b long, v long")
    with pytest.raises(ValueError, match="multiple rows"):
        merge_delta(dup, t, on=["a", "b"])


def test_merge_past_keyset_cap(spark, tmp_path):
    """100,001 distinct keys is past the exact key-set cap: pruning falls
    back to the envelope, which overlaps every file."""
    t = _target(spark, tmp_path, "past_cap")
    n = 100_001
    big = spark.range(0, n).select("id", (-F.col("id")).alias("v"), F.lit("big").alias("tag"))
    res = _merge(big, t, ["id"])
    assert _pruning(res) == (1000, 4, 0)
    got = read_delta(spark, t).agg(
        F.count(F.lit(1)), F.countDistinct("id"), F.sum("v"), F.min("tag"), F.max("tag")
    ).first()
    assert tuple(got) == (n, n, -(n - 1) * n // 2, "big", "big")
    dup = big.unionByName(big.limit(1))
    with pytest.raises(ValueError, match="multiple rows"):
        merge_delta(dup, t, on=["id"])
