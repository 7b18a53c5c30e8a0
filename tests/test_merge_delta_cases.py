"""MERGE INTO edge cases pinned to exact results: matched-row counts,
file pruning and final table contents for NULL keys, duplicate target
keys, compound keys, key sets past the exact-pruning cap, every
when_matched / insert_not_matched combination, and merges that touch no
file at all (whose matched-row count must still arrive, not hang).
Every case runs in both regimes and compares them: the driver regime,
which rewrites small merges with pyarrow, and the distributed one, with
every regime cap at 0 (the ``force_distributed`` switch). Also: a round trip of every column type
the driver regime carries, and CHECK constraints on MERGE and UPDATE."""

from __future__ import annotations

import datetime as dt
import os
import threading
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from delta_unity_duckdb_spark.sources import delta_log as D
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


def _both_regimes(monkeypatch, force_distributed, run):
    """``run(regime)`` with the default caps, then again with every regime
    cap at 0 (``force_distributed``). Returns both results and how many
    merges of the first run took the driver regime (none may in the
    second)."""
    calls = []
    real = D._driver_merge_writer

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(D, "_driver_merge_writer", spy)
    fast = run("driver")
    n_driver = len(calls)
    force_distributed()
    dist = run("distributed")
    assert len(calls) == n_driver
    return fast, dist, n_driver


def _outcome(spark, t, res):
    return _pruning(res), res["version"], read_delta(spark, t).schema, _rows(spark, t)


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
def test_merge_case(
    spark, tmp_path, monkeypatch, force_distributed, name, extra, source, kw, expect
):
    def run(regime):
        t = _target(spark, tmp_path, f"{name}_{regime}", extra)
        return _outcome(spark, t, _merge(spark.createDataFrame(source, SCHEMA), t, ["id"], **kw))

    fast, dist, n_driver = _both_regimes(monkeypatch, force_distributed, run)
    assert n_driver == 1 and fast == dist
    pruning, version, _, rows = fast
    assert (pruning, version) == (expect, 1)
    assert rows == _model(BASE + extra, source, by_id, **kw)


def test_merge_compound_key(spark, tmp_path, monkeypatch, force_distributed):
    """Compound keys prune by the per-column min/max envelope; the
    duplicate-key check rides the same pass. The driver regime takes
    single-column keys only."""
    base = [(i // 100, i % 100, i * 10) for i in range(1000)]
    source = [(1, 5, -1), (2, 7, -2), (2, 150, -3)]

    def run(regime):
        t = str(tmp_path / f"compound_{regime}")
        df = spark.createDataFrame(base, "a long, b long, v long")
        write_delta(df.repartitionByRange(4, "a", "b").sortWithinPartitions("a", "b"), t)
        res = _merge(spark.createDataFrame(source, "a long, b long, v long"), t, ["a", "b"])
        dup = spark.createDataFrame([(1, 5, -1), (1, 5, -2)], "a long, b long, v long")
        with pytest.raises(ValueError, match="multiple rows"):
            merge_delta(dup, t, on=["a", "b"])
        return _outcome(spark, t, res)

    fast, dist, n_driver = _both_regimes(monkeypatch, force_distributed, run)
    assert n_driver == 0 and fast == dist
    assert fast[0] == (2, 2, 2)
    assert fast[3] == _model(base, source, lambda r: r[:2])


def test_merge_past_keyset_cap(spark, tmp_path, monkeypatch, force_distributed):
    """100,001 distinct keys is past the exact key-set cap: pruning falls
    back to the envelope, which overlaps every file, and the merge does
    not take the driver regime."""
    n = 100_001
    big = spark.range(0, n).select("id", (-F.col("id")).alias("v"), F.lit("big").alias("tag"))

    def run(regime):
        t = _target(spark, tmp_path, f"past_cap_{regime}")
        res = _merge(big, t, ["id"])
        got = read_delta(spark, t).agg(
            F.count(F.lit(1)), F.countDistinct("id"), F.sum("v"), F.min("tag"), F.max("tag")
        ).first()
        dup = big.unionByName(big.limit(1))
        with pytest.raises(ValueError, match="multiple rows"):
            merge_delta(dup, t, on=["id"])
        return _pruning(res), tuple(got)

    fast, dist, n_driver = _both_regimes(monkeypatch, force_distributed, run)
    assert n_driver == 0 and fast == dist
    assert fast == ((1000, 4, 0), (n, n, -(n - 1) * n // 2, "big", "big"))


# ids past 2**53, where float64 cannot tell neighbours apart
A = 2**53 + 1
RT_SCHEMA = (
    "id long, d date, ts timestamp, tn timestamp_ntz, amt decimal(12,2), "
    "flag boolean, raw binary, s string"
)


def _rt_rows(ids, tag):
    out = []
    for i in ids:
        v = 5 if i is None else i  # a NULL key still carries values
        out.append((
            i,
            dt.date(2024, 1, 1) + dt.timedelta(days=v % 400),
            dt.datetime(2024, 1, 1, 12, 30, 15, 123456) + dt.timedelta(hours=v % 500),
            dt.datetime(2024, 2, 1) + dt.timedelta(seconds=v % 1000, microseconds=7),
            Decimal(v % 10**6) / 100,
            v % 2 == 0,
            bytes([v % 256, 0, 255]),
            None if v % 3 == 0 else f"{tag}{v % 1000}",
        ))
    return out


def _round_trip(spark, t):
    """Create a table with a NOT NULL key (2 files), widen it by a
    ``merge_schema`` append (so the first files lack ``note``), then merge
    updates in both first files, a NULL-key row and a new key. Returns the
    merge result and the three inputs as collected rows."""
    first = spark.createDataFrame(
        _rt_rows([A + 2 * i for i in range(40)], "base"),
        RT_SCHEMA.replace("id long", "id long not null"),
    )
    write_delta(first.repartitionByRange(2, "id").sortWithinPartitions("id"), t)
    more = spark.createDataFrame(
        [r + ("more",) for r in _rt_rows([A + 1000 + 2 * i for i in range(10)], "more")],
        RT_SCHEMA + ", note string",
    )
    write_delta(more.coalesce(1), t, merge_schema=True)
    source = spark.createDataFrame(
        [
            r + (note,)
            for r, note in zip(
                _rt_rows([A + 6, A + 50, None, A + 1], "src"), ["u1", None, "nullkey", "ins"]
            )
        ],
        RT_SCHEMA + ", note string",
    )
    res = _merge(source, t, ["id"])
    inputs = [first.collect(), more.collect(), source.collect()]
    return res, [[tuple(r) for r in rows] for rows in inputs]


def test_round_trip_every_driver_type_both_regimes(
    spark, tmp_path, monkeypatch, force_distributed
):
    """Ids past 2**53, a NULL key against a NOT NULL key field, every
    column type the driver regime carries, and files that predate a
    ``merge_schema`` column: both regimes give the same rows, schema and
    pruning, and the rows are the reference model's."""

    def run(regime):
        t = str(tmp_path / regime)
        res, inputs = _round_trip(spark, t)
        return _outcome(spark, t, res), inputs

    (fast, (first, more, source)), (dist, _), n_driver = _both_regimes(
        monkeypatch, force_distributed, run
    )
    assert n_driver == 1 and fast == dist
    pruning, version, schema, rows = fast
    assert (pruning, version) == ((2, 2, 1), 2)
    assert schema.fieldNames()[-1] == "note"
    assert rows == _model([r + (None,) for r in first] + more, source, by_id)
    assert (None,) + source[2][1:] in rows  # the NULL key landed as an insert


def test_merge_and_update_enforce_check_constraints(
    spark, tmp_path, monkeypatch, force_distributed
):
    """MERGE and UPDATE check the rows they add against the table's CHECK
    constraints and commit nothing on a violation; rows a MERGE does not
    add (matched and deleted) are not checked, and NULL passes."""
    schema = "id long, v long"

    def run(regime):
        t = str(tmp_path / f"cc_{regime}")
        write_delta(spark.createDataFrame([(1, 5), (2, 6)], schema).coalesce(1), t)
        D.add_check_constraint(spark, t, "v_positive", "v > 0")
        before = D.table_version(t)
        with pytest.raises(ValueError, match="v_positive"):
            merge_delta(spark.createDataFrame([(1, -7), (4, -9)], schema), t, on=["id"])
        with pytest.raises(ValueError, match="v_positive"):
            D.update_delta(spark, t, [("id", "=", 2)], {"v": -3})
        assert D.table_version(t) == before
        assert not [n for n in os.listdir(t) if n.startswith("_staging_")]
        assert _rows(spark, t) == [(1, 5), (2, 6)]
        src = spark.createDataFrame([(1, -7), (4, None)], schema)
        merge_delta(src, t, on=["id"], when_matched="delete")
        return _rows(spark, t)

    fast, dist, n_driver = _both_regimes(monkeypatch, force_distributed, run)
    assert n_driver == 2
    assert fast == dist == [(2, 6), (4, None)]
