"""Dense-regime set-similarity (blocked incidence GEMM) must be
value-identical to the sparse co-occurrence join it replaces — both_n
and integer-ppm Jaccard for every overlapping pair, including pairs
that straddle user-block boundaries and users whose only element is
NULL (counted in the set size, never in an intersection)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from delta_unity_duckdb_spark.operators.similarity import dense_jaccard_pairs


def _sparse_pairs(uk):
    sizes = uk.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = uk.alias("a"), uk.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u1"), F.col("b.user_id").alias("u2"))
        .groupBy("u1", "u2")
        .agg(F.count(F.lit(1)).alias("both_n"))
    )
    s1 = sizes.select(F.col("user_id").alias("u1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("user_id").alias("u2"), F.col("n").alias("n2"))
    return (
        inter.join(s1, "u1")
        .join(s2, "u2")
        .select(
            "u1",
            "u2",
            "both_n",
            F.expr("(both_n * 1000000) div (n1 + n2 - both_n)").alias(
                "jaccard_ppm"
            ),
        )
    )


def _mk_uk(spark, rows):
    return spark.createDataFrame(rows, "user_id long, k long")


def test_dense_equals_sparse_cross_block(spark):
    rng = random.Random(7)
    rows = sorted(
        {
            (u, rng.randrange(12))
            for u in range(40)
            for _ in range(rng.randrange(1, 9))
        }
    )
    uk = _mk_uk(spark, rows)
    # block_rows=7 forces 6 blocks -> plenty of cross-block tiles
    dense = dense_jaccard_pairs(uk, block_rows=7)
    got = sorted(map(tuple, dense.collect()))
    want = sorted(map(tuple, _sparse_pairs(uk).collect()))
    assert got == want and len(got) > 100


def test_dense_null_k_counts_in_size_not_intersection(spark):
    rows = [(1, 5), (1, None), (2, 5), (3, None)]
    uk = _mk_uk(spark, rows)
    got = sorted(map(tuple, dense_jaccard_pairs(uk, block_rows=2).collect()))
    # user 1 has n=2 (null counted), shares only k=5 with user 2 (n=1):
    # jaccard = 1e6 * 1 // (2 + 1 - 1) = 500000; user 3 pairs with no one
    assert got == [(1, 2, 1, 500_000)]
    want = sorted(map(tuple, _sparse_pairs(uk).collect()))
    assert got == want


def test_universe_overflow_falls_back(spark):
    rows = [(u, k) for u in range(3) for k in range(u, u + 5)]
    uk = _mk_uk(spark, rows)
    assert dense_jaccard_pairs(uk, max_universe=4) is None
    assert dense_jaccard_pairs(uk, max_universe=16) is not None


def test_empty_input(spark):
    uk = _mk_uk(spark, []).limit(0)
    assert dense_jaccard_pairs(uk).count() == 0


def test_dedup_topk_equals_full_order(spark):
    """jaccard_topk_pairs_dedup (set-dedup-first, round-7 skew-regime
    fix) must return EXACTLY the top-k of the sparse join's full
    materialized order — duplicated sets, null elements, within- and
    cross-mask pairs, and tie ordering all exercised."""
    from delta_unity_duckdb_spark.operators.similarity import (
        jaccard_topk_pairs_dedup,
    )

    rng = random.Random(11)
    rows = set()
    for u in range(60):
        base = u % 7  # 7 distinct set shapes -> heavy duplication
        for k in range(base, base + 4):
            rows.add((u, k))
        if u % 5 == 0:
            rows.add((u, None))  # null: in |A|, never in intersections
        if u >= 40:  # some unique sets too (cnt=1 masks)
            rows.add((u, 100 + u))
    uk = _mk_uk(spark, sorted(rows, key=lambda r: (r[0], -1 if r[1] is None else r[1])))
    for top_k in (5, 20, 50):
        got = [tuple(r) for r in jaccard_topk_pairs_dedup(uk, top_k=top_k).collect()]
        want = [
            tuple(r)
            for r in _sparse_pairs(uk)
            .orderBy(F.desc("jaccard_ppm"), "u1", "u2")
            .limit(top_k)
            .collect()
        ]
        assert got == want, f"top_k={top_k}"
    # regime guards: big universe or too many distinct masks -> None
    assert jaccard_topk_pairs_dedup(uk, max_universe=4) is None
    assert jaccard_topk_pairs_dedup(uk, max_masks=3) is None


def test_block_cosine_pairs_bit_identical_to_hof_expression(spark):
    """The vectorized block kernel must produce the IDENTICAL doubles as
    the F.aggregate sequential-fold expression it replaces (same
    summation order), across multi-block grouping."""
    import math
    import random

    from delta_unity_duckdb_spark.operators.similarity import (
        _dot,
        _norm,
        block_cosine_pairs,
    )

    rng = random.Random(11)
    rows = [
        (i % 3, i, [rng.uniform(-1, 1) for _ in range(17)]) for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "blk int, vec_id long, embedding array<double>"
    )
    got = {
        (r.blk, r.id_a, r.id_b): r.cosine_raw
        for r in block_cosine_pairs(df, ["blk"]).collect()
    }
    x = df.select("blk", F.col("vec_id").alias("id_a"),
                  F.col("embedding").alias("va"),
                  _norm(F.col("embedding")).alias("na"))
    y = df.select(F.col("blk").alias("blk2"), F.col("vec_id").alias("id_b"),
                  F.col("embedding").alias("vb"),
                  _norm(F.col("embedding")).alias("nb"))
    want = {
        (r.blk, r.id_a, r.id_b): r.raw
        for r in x.join(
            y, (x["blk"] == y["blk2"]) & (x["id_a"] < y["id_b"])
        ).select(
            "blk", "id_a", "id_b",
            (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("raw"),
        ).collect()
    }
    assert set(got) == set(want) and len(got) == 3 * 20 * 19 // 2
    assert all(
        math.isclose(got[k], want[k], rel_tol=0, abs_tol=0) for k in got
    ), "kernel doubles must be bit-identical to the sequential fold"


def test_block_cosine_pairs_block_cap_is_loud(spark):
    import pytest

    from delta_unity_duckdb_spark.operators.similarity import (
        block_cosine_pairs,
    )

    # hash sharding only bounds EXPECTED block size, so the kernel
    # tolerates fluctuation up to 2x the nominal cap (observed 1027/1024
    # at the 100x SF) ...
    df_ok = spark.createDataFrame(
        [(0, i, [1.0, 2.0]) for i in range(9)],
        "blk int, vec_id long, embedding array<double>",
    )
    block_cosine_pairs(df_ok, ["blk"], max_block_rows=8).collect()
    # ... but past 2x the sharding contract itself is broken: fail loud
    df_bad = spark.createDataFrame(
        [(0, i, [1.0, 2.0]) for i in range(17)],
        "blk int, vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="block cap|max_block_rows"):
        block_cosine_pairs(df_bad, ["blk"], max_block_rows=8).collect()


def test_block_cosine_pairs_oversize_process_completes(spark):
    """oversize="process" (the cosine_pairs_lsh posture, round 10): a
    block past 2x the cap — expected growth for LSH band buckets, whose
    size is data-dependent — must COMPLETE with the full exact pair set,
    not raise; the "raise" posture stays for sharding-contract callers
    (previous test)."""
    from delta_unity_duckdb_spark.operators.similarity import (
        block_cosine_pairs,
    )

    n = 17  # > 2 * max_block_rows=8
    df_bad = spark.createDataFrame(
        [(0, i, [1.0 + i, 2.0]) for i in range(n)],
        "blk int, vec_id long, embedding array<double>",
    )
    rows = block_cosine_pairs(
        df_bad, ["blk"], max_block_rows=8, oversize="process"
    ).collect()
    assert len(rows) == n * (n - 1) // 2
    assert all(r.id_a < r.id_b for r in rows)


def test_knn_join_zero_norm_candidate_is_null_not_nan(spark):
    """Regression: the Arrow scoring kernel must emit NULL (like the
    expression path's Divide) for zero-norm vectors — numpy's NaN would
    sort FIRST under desc and poison every top-k."""
    from delta_unity_duckdb_spark.operators.similarity import knn_join

    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(100, [1.0, 0.0])], "qid long, qvec array<double>"
    )
    rows = knn_join(emb, q, k=3, qid_col="qid", qvec_col="qvec").collect()
    ids = [r["vec_id"] for r in rows]
    assert 0 not in ids, "zero-norm candidate must never outrank real ones"
    assert len(ids) == 3
    sims = {r["vec_id"]: r["cosine_sim"] for r in rows}
    assert sims[1] == 1.0


def test_dedup_topk_probes_the_universe_once(spark, sf_dir, monkeypatch, count_jobs):
    """The set-dedup regime collects the element universe once and hands
    that table, and its mask count as the user count, to the tile kernel.
    Probing the universe again for the mask rows and counting their users
    cost five more jobs: 20 per call on this fixture before, 15 after."""
    import delta_unity_duckdb_spark.operators.similarity as S
    from delta_unity_duckdb_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    uk = (
        e.filter(F.col("props").isNotNull())
        .select("user_id", F.regexp_extract("props", "[0-9]+", 0).cast("bigint").alias("k"))
        .distinct()
        .localCheckpoint()
    )
    want = [tuple(r) for r in S.jaccard_topk_pairs_dedup(uk, top_k=50).collect()]
    probes = []
    real = S.collect_if_small

    def spy(df, cap):
        probes.append(cap)
        return real(df, cap)

    monkeypatch.setattr(S, "collect_if_small", spy)
    got, n = count_jobs(
        lambda: [tuple(r) for r in S.jaccard_topk_pairs_dedup(uk, top_k=50).collect()]
    )
    assert got == want and len(got) == 50
    assert probes == [4096]
    assert n <= 15, n
