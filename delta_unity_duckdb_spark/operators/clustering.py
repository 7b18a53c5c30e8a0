"""Fixed-point k-means over embedding columns — semantic clustering for
corpus curation (topic bucketing, cluster-balanced sampling, semantic
dedup blocking).

Why fixed-point: float k-means is nondeterministic under Spark — the
centroid-update SUM of doubles depends on partition order, and a 1-ulp
wobble can flip an assignment, so results would differ run-to-run AND
engine-to-engine. Here every embedding element is floor-quantized to an
int64 grid (``FLOOR(x·10^5)``, the repo's quantization convention —
functions/numeric.py), distances are exact integer sums, and centroid
updates use the portable floor-division identity
``floor(s/n) = (s − pmod(s,n)) DIV n`` (workload/events.py:336). Every
iteration is therefore EXACTLY reproducible on any engine and any
partitioning — the DuckDB oracle (``kmeans_sql``) replays the identical
iterations value-for-value.

Scale shape (100 TB): centroids are k rows of driver state (as in
MLlib): each assignment pass is a vectorized Arrow map against the
broadcast centroid block — zero joins, zero shuffles — and the update is
ONE (cid, pos) hash-aggregate with map-side combine (≤ k·dim groups).
Nothing quadratic; per-iteration shuffle volume is k·dim rows however
large the corpus. A fully distributed join+window form
(``kmeans_fixed_point``) remains for centroid sets too large to hold on
the driver.

Reference parity: clustering is a north-star extension (SURVEY.md §2-E,
BASELINE.json north_star) — the reference has no ML-adjacent surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from delta_unity_duckdb_spark.functions.frames import CKPT_DESER, collect_if_small, list_matrix

SCALE = 100_000  # 1e-5 grid: |q| ≤ ~1e5·|x|; dist sums stay « int64 max

# Rows at or below which kmeans_fixed_point_literal solves the WHOLE
# problem on the driver in numpy (Arrow collect ≈ rows × dim × 8B; 200k ×
# 64 dims ≈ 100 MB). Same adaptive-threshold contract as
# graph.SMALL_GRAPH_EDGES; tests set 0 to force the Spark loop.
SMALL_KMEANS_ROWS = 200_000


def quantize_vec(col: Column, scale: int = SCALE) -> Column:
    """array<float> → array<bigint> on the floor grid (no ROUND tie-break)."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * scale).cast("long")
    )


def _sqdist(a: Column, b: Column) -> Column:
    """Exact integer squared L2 distance of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per vector: broadcast the k centroids, rank the k
    candidates per vector with a deterministic (dist, cid) tie-break.
    WindowGroupLimit keeps only the top row per vector before the sort
    materializes."""
    w = Window.partitionBy("vid").orderBy("dist", "cid")
    return (
        e.crossJoin(F.broadcast(cents))
        .withColumn("dist", _sqdist(F.col("q"), F.col("cq")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vid", "q", "cid", "dist")
    )


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids: element-wise exact-integer mean (floor) per cluster.
    ONE hash-aggregate over (cid, pos) — ≤ k·dim groups, map-side
    combined — then reassembly into ordered arrays."""
    by_pos = assigned.select(
        "cid", F.posexplode("q").alias("pos", "v")
    ).groupBy("cid", "pos").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    val = F.expr("(s - pmod(s, n)) DIV n")  # portable floor(s/n), n > 0
    return (
        by_pos.select("cid", "pos", val.alias("val"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "val"))),
                lambda st: st["val"],
            ).alias("cq")
        )
    )


def kmeans_fixed_point(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    scale: int = SCALE,
) -> DataFrame:
    """Deterministic k-means: returns the final assignment
    (vid, cid, dist). Init = the k lowest-id vectors (cid 1..k); then
    ``iters`` rounds of assign→update; the returned frame is the
    assignment under the final centroids."""
    e = emb.select(
        F.col(id_col).alias("vid"), quantize_vec(F.col(vec_col), scale).alias("q")
    )
    cents = (
        e.filter(F.col("vid") < k)
        .select(
            F.row_number().over(Window.orderBy("vid")).alias("cid"),
            F.col("q").alias("cq"),
        )
    )
    for _ in range(iters):
        cents = _update(_assign(e, cents))
    return _assign(e, cents).select("vid", "cid", "dist")


def _assign_arrow(e: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Assignment against driver-held centroids as a VECTORIZED Arrow map:
    one ``mapInPandas`` pass computing the full n×k exact-int64 distance
    matrix per record batch in numpy (no joins, no windows, no shuffle —
    the narrowest possible assignment). Exactness: inputs are quantized
    int64, numpy int64 arithmetic is exact, and ``argmin`` takes the FIRST
    minimum — centroids are ordered by cid, so ties break to the lowest
    cid exactly like the (dist, cid) struct ordering in ``_assign``
    (equivalence pinned in tests). Batch memory is rows×k×dim×8B — chunk
    the batch loop before going past k·dim ≈ 10⁶."""
    import pandas as pd

    cent_arr = [list(cq) for _, cq in cents]
    cid_arr = [cid for cid, _ in cents]

    def run(batches):
        import numpy as np

        C = np.array(cent_arr, dtype=np.int64)
        cids = np.array(cid_arr, dtype=np.int32)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack([np.asarray(q, dtype=np.int64) for q in pdf["q"]])
            d2 = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            best = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"],
                    "q": pdf["q"],
                    "cid": cids[best],
                    "dist": d2[np.arange(len(best)), best],
                }
            )

    return e.mapInPandas(run, schema="vid long, q array<bigint>, cid int, dist long")


def kmeans_fixed_point_literal(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    scale: int = SCALE,
) -> DataFrame:
    """``kmeans_fixed_point`` with the centroids held on the driver —
    value-identical (same exact-integer arithmetic, same floor means,
    same tie-breaks; pinned by tests against the distributed form), but
    each iteration is ONE job: the assignment runs as the vectorized
    Arrow kernel (``_assign_arrow`` — numpy int64 distance matrix, no
    join/window/shuffle), and the k·dim floor-mean aggregate collects k
    tiny centroid rows back to the driver for the next round — exactly
    MLlib's centroids-as-driver-state loop. The only shuffle per
    iteration is the ≤ k·dim-group mean — the minimum any k-means can
    do. Use this form whenever the k×dim centroid block fits a task
    comfortably (k·dim ≤ ~10⁶); beyond that, the fully distributed
    ``kmeans_fixed_point``."""
    e = emb.select(
        F.col(id_col).alias("vid"), quantize_vec(F.col(vec_col), scale).alias("q")
    )

    # Whole-problem fast path (same adaptive contract as the graph
    # operators' SMALL_GRAPH_EDGES): when the quantized corpus itself is
    # tiny relative to the cluster, each Spark round's scheduling floor
    # dwarfs the arithmetic — the bounded probe is the corpus, and the
    # IDENTICAL iterations run in numpy. Exactness is preserved end to end:
    # int64 arithmetic, np.floor_divide == the portable
    # (s - pmod(s, n)) DIV n floor mean, argmin first-minimum ==
    # lowest-cid tie-break, empty clusters dropped exactly as the
    # aggregate form drops their groups. Equivalence pinned in tests.
    # Empty, NULL-carrying or ragged input stays in the Spark loop.
    import numpy as np
    import pyarrow as pa

    small = collect_if_small(e, SMALL_KMEANS_ROWS)
    Q = None
    if small is not None and small.num_rows and small.column("vid").null_count == 0:
        Q = list_matrix(small.column("q"), np.int64)
    if Q is not None:
        vids = small.column("vid").to_numpy().astype(np.int64)
        order = np.argsort(vids, kind="stable")
        vids, Q = vids[order], Q[order]
        seed_rows = np.nonzero(vids < k)[0]
        if len(seed_rows) == 0:
            # no seed vectors (all ids >= k) — same empty result the
            # distributed form returns, typed identically
            return (
                e.select("vid")
                .limit(0)
                .withColumn("cid", F.lit(None).cast("int"))
                .withColumn("dist", F.lit(None).cast("long"))
            )
        C = Q[seed_rows]  # sorted by vid ⇒ cid 1..len ascending
        cids = np.arange(1, len(seed_rows) + 1, dtype=np.int32)
        for _ in range(iters + 1):
            d2 = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            best = d2.argmin(axis=1)
            if _ == iters:
                break
            keep, new_c = [], []
            for j in range(len(cids)):
                members = Q[best == j]
                if len(members):
                    keep.append(cids[j])
                    new_c.append(
                        np.floor_divide(members.sum(axis=0), len(members))
                    )
            cids = np.array(keep, dtype=np.int32)
            C = np.stack(new_c)
        return emb.sparkSession.createDataFrame(
            pa.table(
                {
                    "vid": vids,
                    "cid": cids[best],
                    "dist": d2[np.arange(len(best)), best],
                }
            )
        )

    e = e.localCheckpoint(eager=True, storageLevel=CKPT_DESER)
    init = (
        e.filter(F.col("vid") < k)
        .select(
            F.row_number().over(Window.orderBy("vid")).alias("cid"),
            F.col("q").alias("cq"),
        )
        .collect()
    )
    cents = [(r["cid"], list(r["cq"])) for r in init]
    if not cents:
        return (
            e.select("vid")
            .limit(0)
            .withColumn("cid", F.lit(None).cast("int"))
            .withColumn("dist", F.lit(None).cast("long"))
        )
    for _ in range(iters):
        # ONE definition of the centroid update (shared with the fully
        # distributed form): collect the k tiny (cid, cq) rows directly.
        rows = _update(_assign_arrow(e, cents)).collect()
        cents = sorted((r["cid"], list(r["cq"])) for r in rows)
    return _assign_arrow(e, cents).select("vid", "cid", "dist")


def kmeans_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    scale: int = SCALE,
) -> str:
    """DuckDB twin replaying the identical fixed-point iterations.
    Returns a query producing (vid, cid, dist) — compose the final
    SELECT around it."""
    assign = (
        "SELECT vid, q, cid, dist FROM ("
        "  SELECT e.vid, e.q, c.cid,"
        "         CAST(list_sum(list_transform(list_zip(e.q, c.cq),"
        "              p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS dist,"
        "         ROW_NUMBER() OVER (PARTITION BY e.vid ORDER BY"
        "           list_sum(list_transform(list_zip(e.q, c.cq),"
        "              p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rn"
        "  FROM e CROSS JOIN {cents} c) WHERE rn = 1"
    )
    update = (
        "SELECT cid, list(val ORDER BY pos) AS cq FROM ("
        "  SELECT cid, pos, (s - ((s % n) + n) % n) // n AS val FROM ("
        "    SELECT cid, pos, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS n"
        "    FROM (SELECT cid, generate_subscripts(q, 1) AS pos,"
        "                 unnest(q) AS v FROM {src})"
        "    GROUP BY cid, pos)"
        ") GROUP BY cid"
    )
    ctes = [
        f"e AS (SELECT {id_col} AS vid,"
        f" list_transform({vec_col}, x -> CAST(FLOOR(CAST(x AS DOUBLE) * {scale})"
        f" AS BIGINT)) AS q FROM {table})",
        f"c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vid) AS cid, q AS cq"
        f" FROM e WHERE vid < {k})",
    ]
    prev = "c0"
    for i in range(iters):
        ctes.append(f"a{i} AS ({assign.format(cents=prev)})")
        ctes.append(f"c{i + 1} AS ({update.format(src=f'a{i}')})")
        prev = f"c{i + 1}"
    ctes.append(f"final AS ({assign.format(cents=prev)})")
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT vid, cid, dist FROM final"
    )
