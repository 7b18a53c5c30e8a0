"""Distributed PCA: exact Gram-matrix accumulation + bit-reproducible
fixed-point power iteration.

The scale problem: a principal component over a 100 TB embedding corpus
cannot ship vectors anywhere — but the covariance matrix is only
``dim x dim``. So the corpus pass reduces to an EXACT integer Gram
matrix, computed as Arrow-batched numpy partials inside ``mapInPandas``
(each batch contributes ``fp.T @ fp`` on 1e-6 fixed-point int64
vectors), summed through DECIMAL(38,0) so no partitioning or corpus
size can overflow or reorder anything. The eigensolve then runs on the
driver over the tiny ``dim x dim`` matrix in arbitrary-precision
Python integers — the same place a 1000-executor cluster would run it.

Why fixed-point: float matmuls are order-dependent, so a parallel Gram
would differ run-to-run and engine-to-engine. Integer accumulation
makes every stage — Gram, covariance rounding, each power-iteration
matvec, each normalization — bit-identical across partitionings AND
across engines, which is what lets a DuckDB oracle (``pca_power_sql``)
replay the ENTIRE iteration and hash-match the loadings. Same
discipline as operators/clustering.py (k-means) and operators/bpe.py.

Integer-op conventions shared with the SQL twin (DuckDB semantics):
- division truncates toward zero (DuckDB ``//``; Python emulated by
  ``_tdiv`` — plain ``//`` floors and WOULD diverge on negatives),
- covariance rounding is half-away-from-zero via the all-integer form
  ``(2a + b) // (2b)`` with the sign handled explicitly,
- per-iteration normalization divides by
  ``floor(sqrt(double(sum(w^2))))`` — the single float op, applied to
  one scalar built from an exact integer, so both engines see the same
  double and the same result.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_unity_duckdb_spark.functions.frames import local_rows_df

FP_SCALE = 1_000_000  # vector fixed point: 1e-6
C_SCALE = 1_000_000_000  # covariance fixed point: 1e-9


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (DuckDB ``//`` semantics;
    Python's ``//`` floors and differs on negative numerators)."""
    q = abs(a) // abs(b)
    return q if (a < 0) == (b < 0) else -q


def _rnd_div(a: int, b: int) -> int:
    """Round-half-away-from-zero a/b for b > 0, in pure integers."""
    return -((-2 * a + b) // (2 * b)) if a < 0 else (2 * a + b) // (2 * b)


def _round_half_away(x: float, nd: int) -> float:
    """DuckDB ``ROUND(double, nd)`` exactly: ``std::round(x*10^nd)/10^nd``
    with C++ half-away-from-zero tie handling. Python's ``round()`` is
    banker's half-even and could diverge by 1e-6 on a decimal tie; the
    naive ``floor(y+0.5)`` diverges when ``y+0.5`` rounds up across an
    integer in double arithmetic (e.g. y=0.49999999999999994), so the
    fraction is compared exactly instead."""
    p = float(10**nd)
    y = x * p
    a = abs(y)
    f = math.floor(a)
    r = f + 1.0 if a - f >= 0.5 else f
    return (r if y >= 0 else -r) / p


def _make_gram_partials(fp_scale: int):
    """Build the mapInPandas kernel as a CLOSURE so cloudpickle ships it
    by value — a module-level function pickles by reference and Python
    workers under a bare driver session (the harness's) cannot import
    this package. Same pattern as operators/multimodal.py.

    Kernel: per Arrow batch, emit the upper-triangle of the exact int64
    Gram matrix of the fixed-point vectors, plus the per-dimension sums
    (j = -1) and the row count (i = j = -1). Overflow safety is ENFORCED,
    not assumed: a Gram entry is bounded by ``rows * max|fp|^2``, so each
    Arrow batch is re-chunked to the largest row count that provably fits
    int64 for ITS observed ``max|fp|`` — raising
    ``arrow.maxRecordsPerBatch`` or feeding giant-magnitude vectors
    yields more (still-exact) partials instead of silent wraparound. The
    cross-chunk/cross-partition summation is exact DECIMAL(38,0) on the
    Spark side.
    """

    def gram_partials(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            fp = np.floor(mat * float(fp_scale) + 0.5).astype(np.int64)
            max_fp = int(np.abs(fp).max()) or 1
            if max_fp * max_fp >= (1 << 62):  # even a single row would wrap
                raise ValueError(
                    f"pca: |fixed-point value| {max_fp} exceeds the int64 "
                    f"Gram bound (scale {fp_scale}); rescale the vectors"
                )
            # rows * max_fp^2 must stay under 2^62 (one spare bit)
            safe_rows = max(1, (1 << 62) // (max_fp * max_fp))
            d = fp.shape[1]
            iu, ju = np.triu_indices(d)
            for lo in range(0, len(fp), safe_rows):
                ck = fp[lo : lo + safe_rows]
                g = ck.T @ ck
                yield pd.concat(
                    [
                        pd.DataFrame(
                            {
                                "i": iu.astype("int32"),
                                "j": ju.astype("int32"),
                                "val": g[iu, ju],
                            }
                        ),
                        pd.DataFrame(
                            {
                                "i": np.arange(d, dtype="int32"),
                                "j": np.full(d, -1, dtype="int32"),
                                "val": ck.sum(axis=0),
                            }
                        ),
                        pd.DataFrame({"i": [-1], "j": [-1], "val": [len(ck)]}),
                    ]
                )

    return gram_partials


def pca_top_component(
    df: DataFrame,
    spark: SparkSession,
    vec_col: str = "embedding",
    iters: int = 8,
) -> DataFrame:
    """Top principal component of the vector column: (dim, loading,
    eigenvalue), loadings on the unit sphere (1e-6 grid), sign fixed so
    the largest-|loading| dimension is positive, eigenvalue from the
    exact-integer Rayleigh quotient.

    One distributed pass (narrow mapInPandas -> dim^2-sized exact agg),
    then a driver-side eigensolve on the dim x dim integer matrix.
    """
    parts = (
        df.select(F.col(vec_col).alias("embedding"))
        .mapInPandas(_make_gram_partials(FP_SCALE), "i int, j int, val long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("val").cast("decimal(38,0)")).alias("val"))
        .collect()
    )
    cells = {(r.i, r.j): int(r.val) for r in parts}
    n = cells.pop((-1, -1), 0)
    if n == 0:
        return spark.createDataFrame(
            [], "dim bigint, loading double, eigenvalue double"
        )
    d = 1 + max(i for i, j in cells if j == -1)
    s = [cells.pop((i, -1)) for i in range(d)]
    g = [[0] * d for _ in range(d)]
    for (i, j), v in cells.items():
        g[i][j] = v
        g[j][i] = v

    dims, loadings, lam = _power_iterate(g, s, n, d, iters)
    rows = [(int(dims[t]), loadings[t], lam) for t in range(d)]
    return local_rows_df(
        spark, rows, "dim bigint, loading double, eigenvalue double"
    ).orderBy("dim")


def _power_iterate(g, s, n, d, iters):
    """The shared-by-construction eigensolve: every op here has a
    matching SQL line in ``pca_power_sql`` — change one, change both."""
    den = n * n * FP_SCALE * FP_SCALE  # covariance denominator n^2 * 1e12
    c = [
        [_rnd_div((n * g[i][j] - s[i] * s[j]) * C_SCALE, den) for j in range(d)]
        for i in range(d)
    ]
    v = [FP_SCALE] * d
    for _ in range(iters):
        w = [sum(c[i][j] * v[i] for i in range(d)) for j in range(d)]
        norm = math.floor(math.sqrt(float(sum(x * x for x in w))))
        if norm == 0:
            break
        v = [_tdiv(x * FP_SCALE, norm) for x in w]
    w = [sum(c[i][j] * v[i] for i in range(d)) for j in range(d)]
    num = sum(v[j] * w[j] for j in range(d))
    dd = sum(x * x for x in v)
    lam = _round_half_away(float(num) / float(dd) / C_SCALE, 6) if dd else 0.0
    # sign fix: the largest-|v| dimension (ties -> lowest dim) is positive
    star = min(range(d), key=lambda j: (-abs(v[j]), j))
    sgn = -1 if v[star] < 0 else 1
    loadings = [round(sgn * v[j] / FP_SCALE, 6) for j in range(d)]
    return list(range(d)), loadings, lam


def pca_power_sql(table: str = "embeddings", vec_col: str = "embedding",
                  iters: int = 8) -> str:
    """DuckDB twin: replays the IDENTICAL fixed-point power iteration as
    unrolled CTEs over the dim x dim integer covariance (HUGEINT
    arithmetic mirrors Python's arbitrary precision within documented
    bounds; ``//`` truncation and the half-away rounding CASE mirror
    ``_tdiv`` / ``_rnd_div``)."""
    fp = FP_SCALE
    cs = C_SCALE
    head = f"""
    WITH ex AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER () AS rid,
             UNNEST(range(len({vec_col}))) AS dim,
             UNNEST(list_transform({vec_col},
               v -> CAST(FLOOR(CAST(v AS DOUBLE) * {fp} + 0.5) AS BIGINT))) AS fpv
      FROM {table}),
    nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM {table}),
    s_ AS (SELECT dim, CAST(SUM(fpv) AS HUGEINT) AS s FROM ex GROUP BY dim),
    g_ AS MATERIALIZED (
      SELECT a.dim AS i, b.dim AS j,
             CAST(SUM(CAST(a.fpv AS HUGEINT) * b.fpv) AS HUGEINT) AS g
      FROM ex a JOIN ex b ON a.rid = b.rid GROUP BY a.dim, b.dim),
    c_ AS MATERIALIZED (
      SELECT i, j,
             CASE WHEN (n * g - si.s * sj.s) < 0
                  THEN -((-2 * (n * g - si.s * sj.s) * {cs}
                          + n * n * {fp}::HUGEINT * {fp})
                         // (2 * n * n * {fp}::HUGEINT * {fp}))
                  ELSE (2 * (n * g - si.s * sj.s) * {cs}
                        + n * n * {fp}::HUGEINT * {fp})
                       // (2 * n * n * {fp}::HUGEINT * {fp})
             END AS c
      FROM g_ JOIN s_ si ON g_.i = si.dim JOIN s_ sj ON g_.j = sj.dim
      CROSS JOIN nn),
    v0 AS (SELECT dim, CAST({fp} AS HUGEINT) AS v FROM s_)"""
    body = ""
    prev = "v0"
    for k in range(1, iters + 1):
        body += f""",
    w{k} AS MATERIALIZED (
      SELECT c.j AS dim, CAST(SUM(c.c * v.v) AS HUGEINT) AS w
      FROM c_ c JOIN {prev} v ON c.i = v.dim GROUP BY c.j),
    n{k} AS MATERIALIZED (
      SELECT CAST(FLOOR(SQRT(CAST(SUM(w * w) AS DOUBLE))) AS HUGEINT) AS nrm
      FROM w{k}),
    v{k} AS MATERIALIZED (SELECT dim, (w * {fp}) // nrm AS v FROM w{k}, n{k})"""
        prev = f"v{k}"
    tail = f""",
    wf AS MATERIALIZED (
      SELECT c.j AS dim, CAST(SUM(c.c * v.v) AS HUGEINT) AS w
      FROM c_ c JOIN {prev} v ON c.i = v.dim GROUP BY c.j),
    ray AS (
      SELECT ROUND(CAST(SUM(v.v * w.w) AS DOUBLE)
                   / CAST(SUM(v.v * v.v) AS DOUBLE) / {cs}, 6) AS eigenvalue
      FROM {prev} v JOIN wf w ON v.dim = w.dim),
    sgn AS (
      SELECT CASE WHEN (SELECT v FROM {prev}
                        ORDER BY ABS(v) DESC, dim ASC LIMIT 1) < 0
                  THEN -1 ELSE 1 END AS s)
    SELECT CAST(v.dim AS BIGINT) AS dim,
           ROUND(CAST(sgn.s * v.v AS DOUBLE) / {fp}, 6) AS loading,
           ray.eigenvalue AS eigenvalue
    FROM {prev} v CROSS JOIN sgn CROSS JOIN ray
    ORDER BY dim"""
    return head + body + tail


def pca_projection_scores(
    df: DataFrame,
    spark: SparkSession,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 24,
) -> DataFrame:
    """TRAIN -> APPLY: fit the top component (driver-side eigensolve over
    the distributed exact Gram), then score every vector by its exact
    fixed-point projection onto it — the corpus-scale application pass
    (rank by |score| for outlier/diversity sampling, threshold for
    direction-specific filtering).

    The score is an EXACT integer dot product (component loadings live
    on the 1e-6 grid, vectors are 1e-6-quantized), so the apply pass is
    partition-independent and engine-exact like the fit. One broadcast
    of dim longs + a narrow map: nothing about the corpus moves.
    """
    parts = (
        df.select(F.col(vec_col).alias("embedding"))
        .mapInPandas(_make_gram_partials(FP_SCALE), "i int, j int, val long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("val").cast("decimal(38,0)")).alias("val"))
        .collect()
    )
    cells = {(r.i, r.j): int(r.val) for r in parts}
    n = cells.pop((-1, -1), 0)
    if n == 0:
        return local_rows_df(spark, [], f"{id_col} bigint, score double")
    d = 1 + max(i for i, j in cells if j == -1)
    s = [cells.pop((i, -1)) for i in range(d)]
    g = [[0] * d for _ in range(d)]
    for (i, j), v in cells.items():
        g[i][j] = v
        g[j][i] = v
    _, loadings, _ = _power_iterate(g, s, n, d, iters)
    # back to the exact integer grid the eigensolve produced them on
    v_fp = [int(round(x * FP_SCALE)) for x in loadings]
    varr = F.array(*[F.lit(v) for v in v_fp])
    x_fp = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * FP_SCALE + 0.5).cast("long"),
    )
    # exact integer dot (|v|<=1e6, |x|<=~1e7, dim * 1e13 << 2^63), then
    # one deterministic conversion to the display double
    dot = F.aggregate(
        F.zip_with(x_fp, varr, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, p: acc + p,
    )
    return df.select(
        F.col(id_col),
        F.round(dot.cast("double") / (FP_SCALE * FP_SCALE), 6).alias("score"),
    )


def pca_projection_sql(table: str = "embeddings", vec_col: str = "embedding",
                       id_expr: str = "vec_id", iters: int = 24) -> str:
    """DuckDB twin: the full fit chain (``pca_power_sql`` internals) up to
    the SIGN-FIXED final component, then the identical exact integer dot
    per vector."""
    fp = FP_SCALE
    fit = pca_power_sql(table, vec_col, iters)
    # reuse the fit SQL as a CTE: it yields (dim, loading, eigenvalue);
    # loading is ROUND(signed v / fp, 6) — recover the exact grid value
    return f"""
    WITH fit AS ({fit}),
    comp AS (
      SELECT list(CAST(ROUND(loading * {fp}) AS BIGINT) ORDER BY dim) AS v
      FROM fit)
    SELECT {id_expr},
           ROUND(CAST(list_sum(list_transform(
                   list_zip(list_transform({vec_col},
                     x -> CAST(FLOOR(CAST(x AS DOUBLE) * {fp} + 0.5) AS BIGINT)),
                     v),
                   p -> p[1] * p[2])) AS DOUBLE) / ({fp}::DOUBLE * {fp}), 6)
             AS score
    FROM {table}, comp
    """
