"""The Delta commit protocol of sources/delta_log.py: the format of every
committing operation's log entry, pinned field for field, and the
concurrency rule for a commit that loses the version race (only a blind
append moves past a foreign commit, never past one that changes metaData
or protocol, and a MERGE is never a blind append). The format pin and
the MERGE race run in both regimes (the ``force_distributed`` switch).
Also: partition directories holding
``__HIVE_DEFAULT_PARTITION__`` convert as NULL, the latest version is read
from a checkpoint when its JSON commits are gone, and a failed data
write leaves no staging directory behind."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from delta_unity_duckdb_spark.sources import delta_log as D


def _actions(t, version):
    with open(os.path.join(t, "_delta_log", f"{version:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _shape(t, version, prev_adds=()):
    """One commit's format with the run-dependent values left out:
    timestamps, file names, the table id and createdTime. Remove paths
    must name files of the snapshot the commit replaced."""
    actions = _actions(t, version)
    out: dict = {"actions": [next(iter(a)) for a in actions]}
    for a in actions:
        kind, body = next(iter(a.items()))
        if kind == "commitInfo":
            assert isinstance(body.pop("timestamp"), int)
            out["commitInfo"] = body
        elif kind == "remove":
            assert isinstance(body.pop("deletionTimestamp"), int)
            assert body.pop("path") in prev_adds
            out.setdefault("removes", []).append(body)
        elif kind == "add":
            out.setdefault("adds", []).append(
                [sorted(body), body["dataChange"], body["partitionValues"]]
            )
        elif kind == "metaData":
            out.setdefault("metaData", []).append(
                {k: v for k, v in body.items() if k not in ("id", "createdTime")}
            )
        else:
            out[kind] = body
    return out


ADD_KEYS = ["dataChange", "modificationTime", "partitionValues", "path", "size", "stats"]
ADD = [ADD_KEYS, True, {}]
REMOVE = {"dataChange": True}
ENGINE = "delta_unity_duckdb_spark minimal-writer"


def _schema(*fields):
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": n, "type": t, "nullable": nullable, "metadata": {}}
                for n, t, nullable in fields
            ],
        }
    )


META = {
    "format": {"provider": "parquet", "options": {}},
    "schemaString": _schema(("id", "long", False), ("v", "long", False)),
    "partitionColumns": [],
    "configuration": {},
}


def _info(operation, params=None, metrics=None):
    out = {"operation": operation}
    if params is not None:
        out["operationParameters"] = params
    if metrics is not None:
        out["operationMetrics"] = metrics
    out["engineInfo"] = ENGINE
    return out


def _dml_metrics(affected, removed, added, skipped):
    return {
        "numAffectedRows": affected,
        "numTargetFilesRemoved": removed,
        "numTargetFilesAdded": added,
        "numTargetFilesSkipped": skipped,
    }


# Recorded on the commit before the shared commit path was introduced.
EXPECTED = {
    "create": {
        "actions": ["commitInfo", "protocol", "metaData", "add"],
        "commitInfo": _info("WRITE", {"mode": "append"}),
        "protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
        "metaData": [META],
        "adds": [ADD],
    },
    "append": {
        "actions": ["commitInfo", "add"],
        "commitInfo": _info("WRITE", {"mode": "append"}),
        "adds": [ADD],
    },
    "overwrite": {
        "actions": ["commitInfo", "metaData", "remove", "remove", "add"],
        "commitInfo": _info("WRITE", {"mode": "overwrite"}),
        "metaData": [META],
        "removes": [REMOVE] * 2,
        "adds": [ADD],
    },
    "merge_schema": {
        "actions": ["commitInfo", "metaData", "add"],
        "commitInfo": _info("WRITE", {"mode": "append"}),
        "metaData": [
            dict(
                META,
                schemaString=_schema(
                    ("id", "long", False), ("v", "long", False), ("w", "string", True)
                ),
            )
        ],
        "adds": [ADD],
    },
    "merge": {
        "actions": ["commitInfo", "remove", "add", "add", "add"],
        "commitInfo": _info(
            "MERGE",
            {"predicate": "t.id = s.id", "whenMatched": "update", "insertNotMatched": True},
            {
                "numTargetFilesRemoved": 1,
                "numTargetFilesAdded": 3,
                "numTargetFilesSkipped": 1,
                "numMatchedRows": 1,
            },
        ),
        "removes": [REMOVE],
        "adds": [ADD] * 3,
    },
    "delete": {
        "actions": ["commitInfo", "remove", "add"],
        "commitInfo": _info("DELETE", {"predicate": "id = 13"}, _dml_metrics(1, 1, 1, 3)),
        "removes": [REMOVE],
        "adds": [ADD],
    },
    "update": {
        "actions": ["commitInfo", "remove", "add", "add"],
        "commitInfo": _info("UPDATE", {"predicate": "id = 14"}, _dml_metrics(1, 1, 2, 3)),
        "removes": [REMOVE],
        "adds": [ADD] * 2,
    },
    "optimize": {
        "actions": ["commitInfo"] + ["remove"] * 5 + ["add"],
        "commitInfo": _info(
            "OPTIMIZE",
            {"zOrderBy": [], "sortBy": [], "targetFileBytes": 128 * 1024 * 1024},
            {"numRemovedFiles": 5, "numAddedFiles": 1, "numConsideredFiles": 5},
        ),
        "removes": [{"dataChange": False}] * 5,
        "adds": [[ADD_KEYS, False, {}]],
    },
    "restore": {
        "actions": ["commitInfo", "metaData", "remove", "add", "add"],
        "commitInfo": _info(
            "RESTORE", {"version": 1}, {"numRestoredFiles": 2, "numRemovedFiles": 1}
        ),
        "metaData": [META],
        "removes": [REMOVE],
        "adds": [ADD] * 2,
    },
    "add_constraint": {
        "actions": ["commitInfo", "protocol", "metaData"],
        "commitInfo": _info("ADD CONSTRAINT", {"name": "pos", "expr": "id >= 0"}),
        "protocol": {"minReaderVersion": 1, "minWriterVersion": 3},
        "metaData": [dict(META, configuration={"delta.constraints.pos": "id >= 0"})],
    },
    "drop_constraint": {
        "actions": ["commitInfo", "metaData"],
        "commitInfo": _info("DROP CONSTRAINT", {"name": "pos"}),
        "metaData": [META],
    },
    "convert": {
        "actions": ["commitInfo", "protocol", "metaData", "add", "add"],
        "commitInfo": _info("CONVERT"),
        "protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
        "metaData": [
            dict(
                META,
                schemaString=_schema(("id", "long", True), ("k", "string", True)),
                partitionColumns=["k"],
            )
        ],
        "adds": [[ADD_KEYS, True, {"k": "a"}], [ADD_KEYS, True, {"k": "b"}]],
    },
}


def _run_ops(spark, tmp_path):
    """One tiny table taken through every committing operation; returns
    the pinned shape of each commit."""
    t = str(tmp_path / "pin")
    shapes: dict = {}

    def step(name, fn):
        before = D.snapshot(spark, t).adds if os.path.isdir(t) else {}
        fn()
        shapes[name] = _shape(t, D.table_version(t), set(before))

    def rows(lo, hi, *extra):
        return spark.range(lo, hi, numPartitions=1).select(
            "id", (F.col("id") * 10).alias("v"), *extra
        )

    step("create", lambda: D.write_delta(rows(0, 4), t))
    step("append", lambda: D.write_delta(rows(4, 6), t))
    step("overwrite", lambda: D.write_delta(rows(10, 14), t, mode="overwrite"))
    step(
        "merge_schema",
        lambda: D.write_delta(rows(14, 16, F.lit("w").alias("w")), t, merge_schema=True),
    )
    src = spark.createDataFrame([(12, 1, "m"), (20, 2, "m")], "id long, v long, w string")
    step("merge", lambda: D.merge_delta(src.coalesce(1), t, on=["id"]))
    step("delete", lambda: D.delete_delta(spark, t, [("id", "=", 13)]))
    step("update", lambda: D.update_delta(spark, t, [("id", "=", 14)], {"v": 0}))
    step("optimize", lambda: D.optimize_delta(spark, t))
    step("restore", lambda: D.restore_delta(spark, t, 1))
    step("add_constraint", lambda: D.add_check_constraint(spark, t, "pos", "id >= 0"))
    step("drop_constraint", lambda: D.drop_check_constraint(spark, t, "pos"))

    p = str(tmp_path / "plain")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string").coalesce(1).write.partitionBy(
        "k"
    ).parquet(p)
    D.convert_to_delta(spark, p)
    shapes["convert"] = _shape(p, 0)
    return shapes


def test_commit_format_pinned(spark, tmp_path, force_distributed):
    """Every commit's shape, in both regimes: the driver and the
    distributed MERGE write the same actions."""
    for regime in ("driver", "distributed"):
        if regime == "distributed":
            force_distributed()
        shapes = _run_ops(spark, tmp_path / regime)
        assert sorted(shapes) == sorted(EXPECTED)
        for name, want in EXPECTED.items():
            assert shapes[name] == want, (regime, name)
            # field order of the JSON record too
            assert list(shapes[name]["commitInfo"]) == list(want["commitInfo"]), (
                regime, name
            )


def _rows(df):
    return sorted(r[0] for r in df.collect())


def _lose_race_to(monkeypatch, foreign):
    """Run ``foreign()`` once right after the next write stages its files:
    a concurrent writer that commits between our snapshot and our commit."""
    real = D._stage_files
    pending = [foreign]

    def stage_then_foreign(*args, **kwargs):
        adds = real(*args, **kwargs)
        if pending:
            pending.pop()()
        return adds

    monkeypatch.setattr(D, "_stage_files", stage_then_foreign)


def test_overwrite_refuses_to_commit_past_foreign_append(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "race_ow")
    D.write_delta(spark.range(0, 5), t)
    _lose_race_to(monkeypatch, lambda: D.write_delta(spark.range(50, 52), t))
    with pytest.raises(D.DeltaProtocolError, match="concurrent commit"):
        D.write_delta(spark.range(100, 103), t, mode="overwrite")
    assert D.table_version(t) == 1
    assert _rows(D.read_delta(spark, t)) == [0, 1, 2, 3, 4, 50, 51]


def test_append_refuses_to_commit_past_foreign_metadata(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "race_cc")
    D.write_delta(spark.range(1, 4), t)
    _lose_race_to(monkeypatch, lambda: D.add_check_constraint(spark, t, "pos", "id > 0"))
    with pytest.raises(D.DeltaProtocolError, match="concurrent commit"):
        D.write_delta(spark.range(-3, 0), t)
    assert D.table_version(t) == 1
    assert _rows(D.read_delta(spark, t)) == [1, 2, 3]


def test_append_retries_past_foreign_append(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "race_ap")
    D.write_delta(spark.range(0, 2), t)
    _lose_race_to(monkeypatch, lambda: D.write_delta(spark.range(10, 12), t))
    assert D.write_delta(spark.range(20, 22), t) == 2
    assert _rows(D.read_delta(spark, t)) == [0, 1, 10, 11, 20, 21]
    # the retried commit left no temp file behind
    assert sorted(os.listdir(os.path.join(t, "_delta_log"))) == [
        f"{v:020d}.json" for v in range(3)
    ]


def test_insert_only_merge_refuses_to_commit_past_foreign_append(
    spark, tmp_path, monkeypatch, force_distributed
):
    """A merge that matched no file adds only, but it read the table to find
    that nothing matched; retried past a foreign append of the same keys it
    would insert them twice. Both regimes stage through ``_stage_files``."""
    for regime in ("driver", "distributed"):
        if regime == "distributed":
            force_distributed()
        t = str(tmp_path / f"race_mg_{regime}")
        # one file whose key range [0, 4] misses every source key: nothing to remove
        D.write_delta(spark.range(0, 5, numPartitions=1), t)
        _lose_race_to(monkeypatch, lambda: D.write_delta(spark.range(100, 102), t))
        with pytest.raises(D.DeltaProtocolError, match="concurrent commit"):
            D.merge_delta(spark.range(100, 102), t, on=["id"])
        assert D.table_version(t) == 1
        assert _rows(D.read_delta(spark, t)) == [0, 1, 2, 3, 4, 100, 101]


def test_partition_values_read_as_written(spark, tmp_path):
    """``__HIVE_DEFAULT_PARTITION__`` directories are NULL partition values,
    whether the files were converted in place or written by write_delta;
    NULL and non-NULL partitions read back side by side."""
    df = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, "c", None), (4, None, None)],
        "id long, s string, n int",
    )
    p = str(tmp_path / "hive_null")
    df.write.partitionBy("s", "n").parquet(p)
    want = spark.read.parquet(p)
    D.convert_to_delta(spark, p)
    got = D.read_delta(spark, p)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    assert (4, None, None) in got.collect()

    t = str(tmp_path / "written_null")
    D.write_delta(df, t, partition_by=["s", "n"])
    assert sorted(D.read_delta(spark, t).select(*df.columns).collect()) == sorted(df.collect())


def test_latest_version_read_from_checkpoint(spark, tmp_path):
    t = str(tmp_path / "ckpt_only")
    D.write_delta(spark.range(0, 2), t)
    D.write_delta(spark.range(2, 4), t)
    D.write_checkpoint(spark, t)
    for v in (0, 1):
        os.remove(os.path.join(t, "_delta_log", f"{v:020d}.json"))
    assert D.snapshot(spark, t).version == 1
    assert D.table_version(t) == 1
    assert D.read_delta_changes(spark, t, from_version=1).count() == 0
    D.write_delta(spark.range(4, 6), t)
    assert D.table_version(t) == 2
    assert _rows(D.read_delta_changes(spark, t, from_version=1)) == [4, 5]


def _listing(t):
    return sorted(
        os.path.relpath(os.path.join(root, n), t)
        for root, dirs, files in os.walk(t)
        for n in dirs + files
    )


def test_failed_write_leaves_no_staging_directory(spark, tmp_path):
    t = str(tmp_path / "stage_fail")
    D.write_delta(spark.range(0, 3), t)
    before = _listing(t)
    bad = spark.range(3, 6).select(
        F.when(F.col("id") > 4, F.raise_error(F.lit("boom"))).otherwise(F.col("id")).alias("id")
    )
    with pytest.raises(Exception, match="boom"):
        D.write_delta(bad, t)
    assert _listing(t) == before
