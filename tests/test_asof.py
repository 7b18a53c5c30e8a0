"""Unit tests for the as-of join operator and embedding-cosine dedup —
edge cases the fixture-backed oracle queries don't exercise."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from delta_unity_duckdb_spark.operators.asof import asof_join
from delta_unity_duckdb_spark.operators.dedup import dedup_embedding_cosine


def _ts(minute):
    return dt.datetime(2024, 1, 1, 12, minute)


def _run_asof(spark, left_rows, right_rows):
    left = spark.createDataFrame(
        left_rows, "user_id long, ts timestamp, event_id long, value double"
    )
    right = spark.createDataFrame(right_rows, "user_id long, ts timestamp, event_id long")
    out = asof_join(
        left,
        right,
        on=["user_id"],
        ts_col="ts",
        right_cols={"event_id": "view_event_id", "ts": "view_ts"},
        right_id_col="event_id",
    )
    return {r["event_id"]: r for r in out.collect()}


def test_asof_picks_most_recent_at_or_before(spark):
    got = _run_asof(
        spark,
        [(1, _ts(10), 100, 5.0)],
        [(1, _ts(1), 7), (1, _ts(9), 8), (1, _ts(11), 9)],  # 11 is in the future
    )
    assert got[100]["view_event_id"] == 8
    assert got[100]["view_ts"] == _ts(9)


def test_asof_equal_ts_is_inclusive(spark):
    got = _run_asof(spark, [(1, _ts(5), 100, 1.0)], [(1, _ts(5), 7)])
    assert got[100]["view_event_id"] == 7  # DuckDB ASOF >= semantics


def test_asof_unmatched_left_rows_keep_nulls(spark):
    got = _run_asof(
        spark,
        [(1, _ts(3), 100, 1.0), (2, _ts(3), 200, 2.0)],
        [(1, _ts(4), 7)],  # after the purchase; user 2 has no views at all
    )
    assert got[100]["view_event_id"] is None and got[100]["view_ts"] is None
    assert got[200]["view_event_id"] is None
    assert got[100]["value"] == 1.0  # left payload intact


def test_asof_tie_among_right_rows_takes_largest_id(spark):
    got = _run_asof(spark, [(1, _ts(6), 100, 1.0)], [(1, _ts(5), 7), (1, _ts(5), 9)])
    assert got[100]["view_event_id"] == 9


def test_asof_keys_do_not_cross(spark):
    got = _run_asof(
        spark,
        [(1, _ts(9), 100, 1.0), (2, _ts(9), 200, 2.0)],
        [(1, _ts(1), 7), (2, _ts(2), 8)],
    )
    assert got[100]["view_event_id"] == 7
    assert got[200]["view_event_id"] == 8


def _vec_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_dedup_drops_true_duplicates(spark):
    df = _vec_df(
        spark,
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0]),      # exact dup of 1 -> dropped
            (3, [0.999, 0.01, 0.0]),   # near dup of 1 -> dropped
            (4, [0.0, 1.0, 0.0]),      # orthogonal -> kept
        ],
    )
    kept = sorted(
        r["vec_id"]
        for r in dedup_embedding_cosine(df, "vec_id", "embedding", 0.99).collect()
    )
    assert kept == [1, 4]


def test_embedding_dedup_chain_drop_is_greedy_by_id(spark):
    # 2 ~ 1 and 3 ~ 2 but 3 !~ 1: greedy smallest-id rule drops BOTH 2 and 3
    # (3 has the smaller-id neighbor 2, regardless of 2 itself being dropped).
    a = [1.0, 0.0]
    b = [0.9, 0.4359]     # cos(a,b) ~ 0.90
    c = [0.62, 0.7846]    # cos(b,c) ~ 0.90, cos(a,c) ~ 0.62
    df = _vec_df(spark, [(1, a), (2, b), (3, c)])
    kept = sorted(
        r["vec_id"]
        for r in dedup_embedding_cosine(df, "vec_id", "embedding", 0.85).collect()
    )
    assert kept == [1]


def test_embedding_dedup_with_candidate_blocking(spark):
    df = _vec_df(spark, [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0])])
    # candidates miss the (1,3) pair; 3 is still dropped via (2,3)
    cands = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = sorted(
        r["vec_id"]
        for r in dedup_embedding_cosine(
            df, "vec_id", "embedding", 0.99, candidates=cands
        ).collect()
    )
    assert kept == [1]


def test_embedding_dedup_driver_regime_matches_distributed(spark):
    """Round-9 regime split: the exact all-pairs path generates candidates
    driver-side (blocked matmul + margin) and verifies with the same
    expression. Must be value-identical to the distributed quadratic join,
    including NULL vectors and NULL elements (never dup'able)."""
    import delta_unity_duckdb_spark.operators.dedup as D

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),
        (3, [0.999, 0.01, 0.0]),
        (4, [0.0, 1.0, 0.0]),
        (5, None),
        (6, [1.0, None, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def kept(frame):
        return sorted(
            r["vec_id"]
            for r in D.dedup_embedding_cosine(
                frame, "vec_id", "embedding", 0.99
            ).collect()
        )

    fast = kept(df)
    orig = D.EMB_DRIVER_MAX_VECTORS
    D.EMB_DRIVER_MAX_VECTORS = 0  # force the distributed quadratic join
    try:
        dist = kept(df)
    finally:
        D.EMB_DRIVER_MAX_VECTORS = orig
    assert fast == dist == [1, 4, 5, 6]
    # Zero-norm vectors: NaN similarity is never a candidate, the row is
    # kept. (Asserted on the driver regime only: the distributed quadratic
    # join raises ANSI DIVIDE_BY_ZERO on a zero norm — a pre-existing
    # crash on inputs the fixtures never contain, not a parity target.)
    dfz = spark.createDataFrame(
        rows + [(7, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    assert kept(dfz) == [1, 4, 5, 6, 7]


def test_embedding_dedup_independent_of_row_order(spark, monkeypatch):
    """The driver regime pairs vectors by row position; the result must
    still follow ids, so a row-permuted input drops the same ids as the
    id-sorted input and as the distributed ``embedding_cosine_pairs``
    join."""
    import numpy as np

    import delta_unity_duckdb_spark.operators.dedup as D

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(6, 8))
    rows = [
        (i, (centers[i % 6] + 0.05 * rng.normal(size=8)).tolist()) for i in range(60)
    ]
    permuted = [rows[j] for j in rng.permutation(len(rows))]

    def kept(rows_in):
        return sorted(
            r["vec_id"]
            for r in D.dedup_embedding_cosine(
                _vec_df(spark, rows_in), "vec_id", "embedding", 0.99
            ).collect()
        )

    by_id, by_perm = kept(rows), kept(permuted)
    monkeypatch.setattr(D, "EMB_DRIVER_MAX_VECTORS", 0)  # distributed join
    distributed = kept(permuted)
    assert by_perm == by_id == distributed
    assert 6 <= len(by_id) < len(rows)  # some ids dropped, every cluster kept
