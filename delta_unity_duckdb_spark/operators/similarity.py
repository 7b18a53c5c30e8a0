"""Vector similarity search over embedding columns (SURVEY.md §2-E3/E4).

- ``cosine_topk``: brute-force cosine top-k against one query vector.
  The dot product is a sequential JVM-side fold (``F.aggregate`` over
  ``F.zip_with``) — no explode, no shuffle of element rows; the global
  top-k is a TakeOrderedAndProject. This is the exact baseline.
- ``ivf_topk``: IVF-style approximate search — k-means-lite centroid
  assignment (centroids = hash-sampled vectors), probe the closest
  ``nprobe`` partitions only. At 100 TB the partition pruning cuts the
  scanned fraction to nprobe/nlist while the plan stays two broadcast
  joins + one top-k.
- ``cosine_pairs_lsh``: random-hyperplane LSH blocking for pairwise
  similarity joins without a cross join.

All arithmetic is double-precision and element-order-sequential, making
results reproducible across partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from delta_unity_duckdb_spark.functions.frames import CKPT_DESER, collect_if_small


def _dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two array<numeric> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_sim(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact top-k by cosine similarity to a 1-row query DataFrame
    (column ``qvec``). The query side is broadcast; result columns:
    (id, cosine_sim).

    Round 10 note: a vectorized-kernel variant (the knn_join scorer with
    a driver-collected query) was built and MEASURED WORSE at fixture
    scale — the probe collect job (~0.2 s) costs what the interpreted
    higher-order fold saves on an 8k-vector corpus, and the plan loses
    its probe-free TakeOrdered shape. The expression form stays; at
    corpus sizes where the fold would dominate, the IVF path (a real
    index) is the operator to reach for."""
    sim = cosine_sim(F.col(vec_col), F.col("qvec"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        embeddings.crossJoin(F.broadcast(query))
        .select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), id_col)
        .limit(k)
    )


def _ivf_centroids(
    embeddings: DataFrame, nlist: int, id_col: str, vec_col: str
) -> DataFrame:
    """Deterministic sample centroids shared by both ivf_topk paths."""
    return (
        embeddings.filter(F.col(id_col) % F.lit(max(1, 97)) < nlist)
        .select(
            F.row_number().over(Window.orderBy(id_col)).alias("cid"),
            F.col(vec_col).alias("cvec"),
        )
        .filter(F.col("cid") <= nlist)
    )


def _ivf_topk_expr(
    embeddings: DataFrame,
    query: DataFrame,
    k: int,
    nlist: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The original expression-form IVF search: per-(vector, centroid)
    interpreted ``_dot`` folds + a per-id window. Kept as the fallback
    regime (degenerate query/centroids) and the equivalence referee for
    the kernel path."""
    cents = _ivf_centroids(embeddings, nlist, id_col, vec_col)
    assigned = (
        embeddings.crossJoin(F.broadcast(cents))
        .withColumn("cdist", -_dot(F.col(vec_col), F.col("cvec")) / (_norm(F.col(vec_col)) * _norm(F.col("cvec"))))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("cdist", "cid")
            ),
        )
        .filter(F.col("rn") == 1)
        .select(id_col, vec_col, "cid")
    )
    probe = (
        cents.crossJoin(F.broadcast(query))
        .withColumn("cdist", -cosine_sim(F.col("cvec"), F.col("qvec")))
        .orderBy("cdist", "cid")
        .limit(nprobe)
        .select("cid")
    )
    return (
        assigned.join(F.broadcast(probe), "cid")
        .crossJoin(F.broadcast(query))
        .select(
            F.col(id_col),
            F.round(cosine_sim(F.col(vec_col), F.col("qvec")), 4).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), id_col)
        .limit(k)
    )


def ivf_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: assign vectors to the nearest of ``nlist``
    deterministic sample centroids, search only the ``nprobe`` centroids
    closest to the query. Build once / probe many in a real deployment —
    here centroid assignment is inlined for a self-contained operator.

    Round 10 (guide §4.2, the knn_join/block_cosine_pairs pattern): the
    centroid set is ≤ ``nlist`` rows and the query is one row BY
    CONSTRUCTION, so both are collected (two bounded jobs) and the whole
    assign→probe-filter→score pipeline runs as ONE ``mapInPandas`` pass
    over the corpus — the expression form evaluated |corpus|·nlist·dim
    interpreted ``_dot`` lambda steps plus a per-id window shuffle
    (measured 1.0–1.25 s vs a 0.07 s oracle at sf0.1; the kernel pass is
    ~0.1 s). Bit-compatibility: every dot/norm accumulates SEQUENTIALLY
    over dimensions — the same ``((0+p₀)+p₁)+…`` double order as
    ``F.aggregate`` — and the engine-exact ROUND/top-k ordering stays in
    Spark. Spark's null ordering is replicated exactly: a NULL cdist
    (NULL/ragged/NULL-element vector, or a zero norm) sorts FIRST in the
    assignment and probe (asc NULLS FIRST), NaN sorts LAST, ties break
    on cid; scores for such rows emit as true NULLs (sorted last by the
    descending top-k, identical to the expression path). Degenerate
    inputs (no centroids, not exactly one query row, non-finite centroid/
    query vectors) fall back to the expression form."""
    import numpy as np

    # cid order is the kernel's column order; collect() promises none
    crows = sorted(
        _ivf_centroids(embeddings, nlist, id_col, vec_col).collect(),
        key=lambda r: r["cid"],
    )
    qrows = query.limit(2).collect()

    def _clean(v, dim=None):
        if v is None:
            return None
        try:
            arr = np.asarray(v, dtype=np.float64)
        except (TypeError, ValueError):
            return None
        if arr.ndim != 1 or np.isnan(arr).any():
            return None
        if dim is not None and len(arr) != dim:
            return None
        return arr

    kernel_ok = bool(crows) and len(qrows) == 1
    if kernel_ok:
        qvec = _clean(qrows[0]["qvec"])
        cvecs = [_clean(r["cvec"], None) for r in crows]
        kernel_ok = qvec is not None and all(
            c is not None and len(c) == len(qvec) for c in cvecs
        )
    if not kernel_ok:
        return _ivf_topk_expr(
            embeddings, query, k, nlist, nprobe, id_col, vec_col
        )

    dim = len(qvec)
    C = np.stack(cvecs)  # (nc, dim), cids are 1..nc in row order
    nc = len(C)
    cn = np.zeros(nc)
    qn = 0.0
    for c in range(dim):  # sequential fold, same double order as _norm
        cn = cn + C[:, c] * C[:, c]
        qn = qn + qvec[c] * qvec[c]
    cn, qn = np.sqrt(cn), np.sqrt(qn)

    def _order_key(vals, null_mask):
        # Spark asc total order: NULL < numbers < NaN; ties on cid (column
        # order IS cid order, so first-min wins ties)
        key = np.where(np.isnan(vals), np.inf, vals)
        return np.where(null_mask, -np.inf, key)

    # probe set: nearest nprobe centroids to the query, same order/ties
    cq = np.zeros(nc)
    for c in range(dim):
        cq = cq + C[:, c] * qvec[c]
    cden = cn * qn
    cnull = cden == 0
    cdist_q = -(np.where(cnull, 0.0, cq) / np.where(cnull, 1.0, cden))
    order = np.argsort(_order_key(cdist_q, cnull), kind="stable")
    probe_cids = set((order[:nprobe] + 1).tolist())

    id_t = dict(embeddings.dtypes)[id_col]
    schema = f"`{id_col}` {id_t}, cosine_raw double"

    def scorer(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vals = []
            good = np.zeros(len(pdf), dtype=bool)
            for i, v in enumerate(pdf[vec_col]):
                arr = _clean(v, dim)
                if arr is not None:
                    good[i] = True
                    vals.append(arr)
            n = len(pdf)
            # invalid rows: dot is NULL for EVERY centroid → NULLS FIRST
            # → assigned to cid 1 (lowest), score NULL
            cid = np.ones(n, dtype=np.int64)
            sim = np.full(n, np.nan)
            sim_null = ~good
            if vals:
                M = np.stack(vals)  # (m, dim)
                m = len(M)
                vn = np.zeros(m)
                for c in range(dim):
                    vn = vn + M[:, c] * M[:, c]
                vn = np.sqrt(vn)
                dots = np.zeros((m, nc))
                qd = np.zeros(m)
                for c in range(dim):
                    dots = dots + M[:, c][:, None] * C[:, c][None, :]
                    qd = qd + M[:, c] * qvec[c]
                den = vn[:, None] * cn[None, :]
                dnull = den == 0
                cd = -(np.where(dnull, 0.0, dots) / np.where(dnull, 1.0, den))
                key = np.where(dnull, -np.inf, np.where(np.isnan(cd), np.inf, cd))
                cid[good] = np.argmin(key, axis=1) + 1
                qden = vn * qn
                qnull = qden == 0
                sim[good] = np.where(qnull, np.nan, qd) / np.where(
                    qnull, 1.0, qden
                )
                gn = np.zeros(n, dtype=bool)
                gn[good] = qnull
                sim_null = sim_null | gn
            keep = np.isin(cid, list(probe_cids))
            if not keep.any():
                continue
            out_sim = sim[keep].astype(object)
            out_sim[sim_null[keep]] = None
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[keep],
                    "cosine_raw": out_sim,
                }
            )

    scored = embeddings.select(id_col, vec_col).mapInPandas(scorer, schema)
    return (
        scored.select(
            id_col, F.round(F.col("cosine_raw"), 4).alias("cosine_sim")
        )
        .orderBy(F.desc("cosine_sim"), id_col)
        .limit(k)
    )


def cosine_pairs_lsh(
    embeddings: DataFrame,
    threshold: float,
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise similarity join above ``threshold`` via random-hyperplane
    LSH: sign-bit sketch → banded equi-join for candidates → exact cosine
    verify. Avoids the O(n²) cross join; bucket skew handled by AQE."""
    import random

    dim_probe = embeddings.select(F.size(vec_col).alias("d")).limit(1)
    dim = dim_probe.collect()[0]["d"]  # scalar metadata fetch, not data collect
    rng = random.Random(seed)
    planes = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(num_planes)]

    # Sketch expressions are assembled as ONE SQL string per band and
    # parsed JVM-side (round-9: building them as Column algebra issued
    # ~py4j round trips per plane WEIGHT — 24 planes × 64 F.lit() calls
    # ≈ 2.0 s of pure driver-side DataFrame CONSTRUCTION at every call,
    # 2.5× the plan's own execution). repr() round-trips each double
    # exactly and Spark's lexer parses the shortest repr to the nearest
    # double, so the hyperplanes — and therefore every bucket — are
    # bit-identical to the Column form and to the oracle's lsh_planes
    # literals. The arithmetic is unchanged: per bit,
    # CAST(fold(vec·plane) > 0 AS INT), bits packed MSB-first.
    bits_per_band = num_planes // bands

    def _bit_sql(plane: list[float]) -> str:
        arr = ", ".join(f"{w!r}D" for w in plane)
        return (
            f"CAST(aggregate(zip_with(`{vec_col}`, array({arr}),"
            " (x, w) -> CAST(x AS DOUBLE) * w), 0.0D,"
            " (acc, x) -> acc + x) > 0 AS INT)"
        )

    band_cols = []
    for b in range(bands):
        comb = "0"
        for i in range(bits_per_band):
            comb = f"({comb} * 2 + {_bit_sql(planes[b * bits_per_band + i])})"
        band_cols.append(F.expr(comb).alias(f"band_{b}"))
    sk = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), *band_cols
    )
    # Candidate generation + exact verify as ONE within-bucket kernel
    # (round-9 rework; guide §4.2). The previous shape — candidate join
    # on (band, bucket) carrying ids, dedup, then vectors JOINED BACK per
    # unique pair for a per-pair interpreted `_dot` fold — moved two
    # 64-double vectors per candidate pair (~10 M candidate pairs at
    # sf0.1 ⇒ ~10 GB through the verify joins) and evaluated the fold
    # per element. A band bucket IS a block whose within-block pairs are
    # exactly that band's collision candidates, so `block_cosine_pairs`
    # computes them with vectors crossing the Arrow boundary once per
    # bucket MEMBERSHIP (|rows|·bands, not |pairs|) and the dot as the
    # bit-compatible sequential column sweep. A pair colliding in k
    # bands is recomputed k times (same doubles — dedup after), which is
    # cheaper by orders of magnitude than shipping its vectors once.
    # NULL buckets (NULL/ragged vectors) are excluded exactly as the
    # old equi-join dropped them; raw_prefilter keeps every pair that
    # could still round up to the threshold (6e-5 > the 5e-5 round-4
    # boundary + fp slack), and the engine-exact ROUND itself stays in
    # Spark so the emitted cosine_sim is unchanged.
    x = sk.select(
        "id",
        "v",
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
            "band", "bk"
        ),
    ).filter(F.col("bk").isNotNull())
    raw = block_cosine_pairs(
        x,
        ["band", "bk"],
        id_col="id",
        vec_col="v",
        raw_prefilter=threshold - 6e-5,
        # An LSH bucket's size is data-dependent (each band has only
        # 2^bits buckets, so buckets grow linearly with the corpus); the
        # within-bucket pair count is the spec'd candidate work in ANY
        # formulation. Past 2x the cap the kernel PROCESSES the bucket
        # (chunked, bounded memory, one task — exactly the old
        # equi-join's single-task grind) instead of raising: a duplicate
        # -heavy crawl must complete slowly, not fail loudly (round-10
        # posture decision for the round-9 verdict's skew item).
        max_block_rows=1 << 16,
        oversize="process",
    )
    return (
        raw.withColumn("cosine_sim", F.round(F.col("cosine_raw"), 4))
        .filter(F.col("cosine_sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "cosine_sim")
    )


def block_cosine_pairs(
    blocked: DataFrame,
    block_cols: list[str],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    raw_prefilter: float | None = None,
    max_block_rows: int = 4096,
    oversize: str = "raise",
) -> DataFrame:
    """All within-block cosine pairs (id_a < id_b) as ONE vectorized
    kernel per block: ``groupBy(block_cols).applyInPandas`` with the
    dot/norm computed as a numpy column-sweep. The caller is responsible
    for block size being bounded (LSH buckets, sharded k-means clusters
    — every candidate generator here caps its blocks); ``max_block_rows``
    is a loud guard, not a truncation.

    Why a kernel and not the ``_dot`` expression over a self-join: Spark
    evaluates higher-order-function lambdas interpreted, per element —
    a B-row block costs B²/2 · dim interpreted evals (measured ~4s for
    250k pairs × 64 dims at sf0.1). The kernel does the identical
    arithmetic as ~dim vectorized numpy ops per block and ships rows via
    Arrow. Bit-compatibility is preserved on purpose: the dot and norm
    accumulate SEQUENTIALLY over dimensions (a Python loop over columns,
    exactly ``((0+p₀)+p₁)+…`` like ``F.aggregate`` and DuckDB
    ``list_sum``) — NOT ``np.dot``, whose pairwise/SIMD summation order
    would produce different low bits. ``cosine_raw`` is the unrounded
    double ``dot/(norm_a*norm_b)``; rounding/thresholding stays in the
    caller so engine-exact ROUND semantics live in one place.

    ``raw_prefilter`` drops pairs strictly below it INSIDE the kernel
    (pass threshold − 1e-9·slack so no pair that could round up is
    lost); None emits every pair.

    ``oversize`` decides the posture past ``2·max_block_rows`` (round
    10, the round-9 verdict's skew item): ``"raise"`` — the default —
    is for callers that SHARD to a capped expected size, where a bigger
    block means the sharding contract itself broke (multiplicative
    Chernoff puts P(block > 2·mean) below e^(−mean/3)); ``"process"``
    is for callers whose block size is data-dependent (LSH band
    buckets: 16 buckets per band means bucket size grows linearly with
    the corpus), where the quadratic within-block pair count is the
    SPEC'D candidate work in any formulation — the kernel grinds
    through it in one task with bounded memory (the chunked sweep), the
    exact single-task behavior the old (band, bucket) equi-join had, so
    healthy-but-skewed data completes instead of erroring.

    Scale: one shuffle on the block key; per-block memory is
    O(B·dim + B²/chunk) with the pair sweep chunked at 2²¹ pairs, so a
    1024-row cap block peaks at a few MB regardless of dim.
    """
    if oversize not in ("raise", "process"):
        raise ValueError(f"oversize must be raise|process, got {oversize!r}")
    types = {f.name: f.dataType for f in blocked.schema.fields}
    out_fields = ", ".join(
        f"`{c}` {types[c].simpleString()}" for c in block_cols
    )
    schema = f"{out_fields}, id_a long, id_b long, cosine_raw double"

    def kernel(key, pdf):
        import numpy as np
        import pandas as pd

        # Callers shard to EXPECTED size <= max_block_rows (count/nsub);
        # hash placement fluctuates around that mean, so a literal ">"
        # check false-alarms on healthy data (first seen at 100x scale:
        # a 200k-corpus sub-block landed at 1027/1024). Multiplicative
        # Chernoff puts P(block > 2*mean) below e^(-mean/3) — vanishing
        # for mean ~1024 — so 2x is the anomaly line: anything past it
        # means the sharding contract itself is broken, while the pair
        # sweep's O(N*B) bound degrades by at most that constant 2.
        if len(pdf) > 2 * max_block_rows and oversize == "raise":
            raise ValueError(
                f"block_cosine_pairs: block {key} has {len(pdf)} rows > "
                f"2*max_block_rows={2 * max_block_rows} — the caller's "
                f"block cap is not holding"
            )
        if len(pdf) < 2:
            return pd.DataFrame(
                {
                    **{c: pd.Series(dtype=pdf[c].dtype) for c in block_cols},
                    "id_a": pd.Series(dtype="int64"),
                    "id_b": pd.Series(dtype="int64"),
                    "cosine_raw": pd.Series(dtype="float64"),
                }
            )
        ids = pdf[id_col].to_numpy(np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        M = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].iloc[order]]
        )
        d = M.shape[1]
        # sequential-fold norms: same double order as _norm / list_sum
        acc = np.zeros(len(M))
        for c in range(d):
            acc = acc + M[:, c] * M[:, c]
        nrm = np.sqrt(acc)
        B = len(M)
        m = B * (B - 1) // 2
        outs = []
        for lo in range(0, m, 1 << 21):
            # invert the row-major upper-triangle enumeration PER CHUNK
            # (same (i,j) order as np.triu_indices; ids sorted ⇒
            # id_a < id_b) — materializing all B²/2 index pairs up front
            # costs ~0.5 GB at the 2x-slack block bound and would void
            # the few-MB per-block memory claim below
            ts = np.arange(lo, min(lo + (1 << 21), m), dtype=np.int64)
            r = m - 1 - ts
            kk = ((np.sqrt(8.0 * r + 1) - 1) // 2).astype(np.int64)
            kk = np.where(kk * (kk + 1) // 2 > r, kk - 1, kk)
            kk = np.where((kk + 1) * (kk + 2) // 2 <= r, kk + 1, kk)
            iuc = B - 2 - kk
            juc = ts - (iuc * (2 * B - iuc - 1) // 2) + iuc + 1
            dot = np.zeros(len(iuc))
            for c in range(d):
                dot = dot + M[iuc, c] * M[juc, c]
            sim = dot / (nrm[iuc] * nrm[juc])
            if raw_prefilter is not None:
                keep = sim >= raw_prefilter
                iuc, juc, sim = iuc[keep], juc[keep], sim[keep]
            part = pd.DataFrame(
                {"id_a": ids[iuc], "id_b": ids[juc], "cosine_raw": sim}
            )
            for i, c in enumerate(block_cols):
                part.insert(i, c, pdf[c].iloc[0])
            outs.append(part)
        return pd.concat(outs, ignore_index=True)

    return blocked.groupBy(*block_cols).applyInPandas(kernel, schema)


def dense_jaccard_pairs(
    uk: DataFrame,
    user_col: str = "user_id",
    k_col: str = "k",
    block_rows: int = 2048,
    max_universe: int = 4096,
    top_k: int | None = None,
    n_users: int | None = None,
) -> DataFrame | None:
    """Exact pairwise set-intersection counts + Jaccard (integer ppm) for
    a (user, element) incidence table whose element UNIVERSE is small —
    the DENSE regime of the set-similarity join.

    Why a second algorithm exists: the co-occurrence equi-join
    (``user_jaccard_pairs``'s sparse path) materializes one row per
    SHARED ELEMENT per pair. With a small universe and high density the
    sets all overlap — at the fixtures' K=100, density ≈ 0.5, that is
    ~24 rows per pair (26.6M intermediate rows for 1.1M pairs), and the
    "zero-overlap pairs are never materialized" advantage is vacuous
    because no pair has zero overlap. The dense answer from the
    set-similarity literature is a blocked incidence-matrix product:
    each user is a K-bit row; ``both_n`` for every pair in a
    (block_a × block_b) tile is one small GEMM.

    Shape: users get contiguous rank-range blocks (so block order ⇒
    global ``u1 < u2`` without any per-pair comparison), every user row
    is replicated to its B block-partners, and one
    ``groupBy(ba, bb).applyInPandas`` computes the tile product
    (float32 BLAS — counts ≤ K ≤ 4096 ≪ 2²⁴ stay exact), filters
    ``both_n > 0``, and emits integer-exact ``jaccard_ppm`` (floor
    division on positive ints — identical to DuckDB ``//`` and Spark
    ``div``). Work per pair is K/BLAS-width fused multiplies versus
    ~density·K join+aggregate rows — strictly less whenever the sparse
    intermediate exceeds the pair count.

    Scale: computing ALL pairs is inherently Ω(pairs-with-overlap); dense
    tiles distribute as B(B+1)/2 independent tasks of bounded
    (≤ 2·block_rows·K) memory. The rank window is a one-pass O(U log U)
    sort — negligible against the quadratic output it organizes. Returns
    None when the probed universe exceeds ``max_universe`` — the caller
    falls back to the sparse co-occurrence join, which is the right
    plan when elements are many and sets are sparse.

    ``top_k``: when the consumer only wants the global top-k pairs under
    the canonical order (jaccard_ppm DESC, u1, u2) — the set-similarity
    query's actual shape — each tile emits only its LOCAL top-k under
    that same TOTAL order. This is exact, not approximate: a pair in the
    global top-k is preceded by < k pairs globally, hence by < k pairs
    within its own tile, so it survives the tile cut; the union of tile
    top-ks is a superset of the global top-k and the caller's final
    TakeOrdered(k) finishes the job. It converts the operator's OUTPUT
    from Ω(overlapping pairs) — 10¹⁰ rows at 100× fixture scale, the
    round-5 sf10 hang — to ≤ k·B(B+1)/2 rows while the GEMM flops stay
    identical. Leave None to materialize every overlapping pair.

    Null contract: a NULL element joins nothing in the sparse path, so
    here it is excluded from the set bits but still counted in the set
    size ``n`` (COUNT(*) semantics) — value-identical to the join form.
    Input contract: (user, k) rows are expected distinct (every caller
    dedups); the bitmask aggregate is bit_or, so duplicate rows cannot
    corrupt the masks, but ``n``'s COUNT(*) would still over-count them.
    """
    ks = collect_if_small(
        uk.select(k_col).filter(F.col(k_col).isNotNull()).distinct(), max_universe
    )
    if ks is None:
        return None
    return _dense_jaccard_tiles(uk, ks, user_col, k_col, block_rows, top_k, n_users)


def _dense_jaccard_tiles(uk, ks, user_col, k_col, block_rows, top_k, n_users):
    """``dense_jaccard_pairs`` past its universe probe: ``ks`` is the
    collected table of ``uk``'s distinct non-NULL elements."""
    universe = sorted(int(k) for k in ks.column(0).to_pylist())
    K = len(universe)
    n_words = max(1, (K + 63) // 64)
    # n_users: callers that already counted (the regime ladder) pass it
    # in — the recount is a whole extra job over the input frame
    n_users_row = (
        n_users
        if n_users is not None
        else uk.select(user_col).distinct().count()
    )
    if n_users_row == 0:
        return uk.sparkSession.createDataFrame(
            [], "u1 long, u2 long, both_n long, jaccard_ppm long"
        )
    # Replication-aware block sizing: each user row ships to every block
    # partner, so shuffle volume is U·B·row_bytes with B = U/block_rows.
    # The round-7 skewed-sf100 sweep (1.5M users, K=100) measured the
    # fixed-2048 blocking at ~1.1B replicated collect_set rows — 53 GB of
    # spill-disk exhaustion. Two levers fix it: (a) rows carry a PACKED
    # K-bit mask (n_words longs — 2 at K=100) instead of the element
    # array, (b) blocks grow with U, capped so a tile's two float32
    # unpacked panels stay ~<=64 MB. At fixture scale nothing changes
    # (one block); at 1.5M users B drops ~8x and the row ~12x.
    eff_block = max(block_rows, n_users_row // 256)
    eff_block = min(eff_block, max(block_rows, (64 << 20) // (4 * K)))
    n_blocks = (n_users_row + eff_block - 1) // eff_block

    from delta_unity_duckdb_spark.functions.frames import local_rows_df

    uni_df = F.broadcast(
        local_rows_df(
            uk.sparkSession,
            [(int(k), i) for i, k in enumerate(universe)],
            "kk long, idx int",
        )
    )
    with_idx = uk.join(
        uni_df, F.col(k_col).eqNullSafe(F.col("kk")), "left"
    )
    # bit_or, not SUM: OR is idempotent, so a duplicate (user, k) input
    # row re-asserts the same bit instead of adding it twice and carrying
    # into the neighbor (which would corrupt both_n for every pair the
    # user appears in). ``n`` below stays COUNT(*), so full value-identity
    # with the join form still assumes distinct (user, k) input — which
    # every caller guarantees — but a violation can no longer scramble
    # unrelated bits.
    word_exprs = [
        F.expr(
            f"bit_or(CASE WHEN idx >= {w * 64} AND idx < {(w + 1) * 64} "
            "THEN shiftleft(CAST(1 AS BIGINT), idx % 64) "
            "ELSE CAST(0 AS BIGINT) END)"
        ).alias(f"w{w}")
        for w in range(n_words)
    ]
    compact = with_idx.groupBy(F.col(user_col).alias("u")).agg(
        *word_exprs,
        F.count(F.lit(1)).alias("n"),
    ).select(
        "u", F.array(*[f"w{w}" for w in range(n_words)]).alias("bits"), "n"
    )
    # Block assignment by HASH, not by global rank: the old
    # row_number() over Window.orderBy(u) funneled every user through ONE
    # window partition, and the B-way replication explode then ran (and
    # shuffle-wrote B·U rows) inside that single task — the serial stage
    # that dominated the 100×-scale wall. A deterministic hash spreads
    # both the assignment and the explode across the cluster; blocks are
    # Poisson-balanced (±few %), and each unordered pair still lands in
    # exactly ONE tile — (least, greatest) of the two block ids — with
    # canonical u1 < u2 enforced elementwise in the kernel instead of by
    # block order.
    compact = compact.withColumn(
        "ub", F.pmod(F.xxhash64("u"), F.lit(n_blocks)).cast("int")
    )
    parts = compact.select(
        "u",
        "bits",
        "n",
        "ub",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("pb"),
    ).select(
        F.least("ub", "pb").alias("ba"),
        F.greatest("ub", "pb").alias("bb"),
        "u",
        "bits",
        "n",
        "ub",
    )

    def tile(key, pdf):
        import numpy as np
        import pandas as pd

        ba, bb = int(key[0]), int(key[1])

        def mat(rows):
            rows = rows.sort_values("u")
            us = rows["u"].to_numpy(np.int64)
            ns = rows["n"].to_numpy(np.int64)
            # packed longs -> uint8 view (little-endian) -> bit panel;
            # int64 (not uint64): word values carrying bit 63 arrive as
            # negative Python ints, and the byte view is sign-agnostic
            packed = np.array(
                [np.asarray(cell, np.int64) for cell in rows["bits"]],
                dtype=np.int64,
            ).reshape(len(rows), n_words)
            bytes_ = packed.view(np.uint8).reshape(len(rows), n_words * 8)
            bits = np.unpackbits(bytes_, axis=1, bitorder="little")
            M = bits[:, :K].astype(np.float32)
            return us, ns, M

        def cut(u1, u2, both, jac):
            # Local cut under the EXACT global total order — jaccard
            # desc, then (u1, u2) asc. Select-by-value first (O(n)
            # partition), then lexsort only the ≥-kth candidates: a full
            # 1M-pair lexsort was the tile's single largest cost.
            if top_k is None or len(jac) <= top_k:
                return u1, u2, both, jac
            kth = np.partition(jac, len(jac) - top_k)[len(jac) - top_k]
            cand = np.flatnonzero(jac >= kth)
            if len(cand) > top_k:
                order = np.lexsort((u2[cand], u1[cand], -jac[cand]))
                cand = cand[order[:top_k]]
            return u1[cand], u2[cand], both[cand], jac[cand]

        a = pdf[pdf["ub"] == ba]
        b = a if ba == bb else pdf[pdf["ub"] == bb]
        if not len(a) or not len(b):  # hash blocks may be empty
            return pd.DataFrame(
                {c: [] for c in ("u1", "u2", "both_n", "jaccard_ppm")}
            )
        ua, na, Ma = mat(a)
        if ba == bb:
            ub_, nb, Mb = ua, na, Ma
        else:
            ub_, nb, Mb = mat(b)
        MbT = Mb.T
        cols = np.arange(len(ub_))
        # STRIP processing (round-7 skew-sweep lesson): the full tile's
        # C matrix is block_rows² floats — 138 MB at 5878 rows — and the
        # ravel/astype/index chain allocated several same-sized
        # temporaries per tile; 32 workers doing that concurrently spent
        # 94% of the machine in the kernel page-fault path. Strips keep
        # every temporary ≤ a few MB, so the loop stays user-time bound
        # (GEMM + vector ops) with a near-constant working set.
        strip = max(64, (4 << 20) // max(1, len(ub_) * 4))
        outs = []
        for i0 in range(0, len(ua), strip):
            i1 = min(i0 + strip, len(ua))
            C = Ma[i0:i1] @ MbT
            if ba == bb:
                # pairs only above the diagonal: j > global row index
                mask = (C > 0.5) & (cols[None, :] > np.arange(i0, i1)[:, None])
            else:
                mask = C > 0.5
            ii, jj = np.nonzero(mask)
            if not len(ii):
                continue
            both = C[ii, jj].astype(np.int64)
            u1, u2 = ua[i0 + ii], ub_[jj]
            n1, n2 = na[i0 + ii], nb[jj]
            if ba != bb:
                # Hash blocks carry no order: canonicalize u1 < u2 per
                # pair (jaccard is symmetric in n1/n2, so only ids swap).
                sw = u1 > u2
                u1, u2 = np.where(sw, u2, u1), np.where(sw, u1, u2)
            jac = both * 1_000_000 // (n1 + n2 - both)
            outs.append(cut(u1, u2, both, jac))
        if not outs:
            return pd.DataFrame(
                {c: [] for c in ("u1", "u2", "both_n", "jaccard_ppm")}
            )
        u1, u2, both, jac = (np.concatenate(x) for x in zip(*outs))
        u1, u2, both, jac = cut(u1, u2, both, jac)
        return pd.DataFrame(
            {"u1": u1, "u2": u2, "both_n": both, "jaccard_ppm": jac}
        )

    return parts.groupBy("ba", "bb").applyInPandas(
        tile, "u1 long, u2 long, both_n long, jaccard_ppm long"
    )


def jaccard_topk_pairs_dedup(
    uk: DataFrame,
    user_col: str = "user_id",
    k_col: str = "k",
    top_k: int = 50,
    max_universe: int = 4096,
    max_masks: int = 20_000,
    n_salts: int = 64,
) -> DataFrame | None:
    """EXACT top-k Jaccard pairs via set-dedup-first — the third regime
    of the set-similarity join, found by the round-7 skewed-sf100 sweep.

    At 1.5M users the blocked-tile plan (``dense_jaccard_pairs``)
    replicates every user's set to every block partner — ~1.1B shuffle
    rows, measured 53 GB of spill-disk exhaustion — and the
    co-occurrence join (DuckDB's plan for the same query) died the same
    way: exact ALL-pairs scoring is inherently Θ(U²·K). But a crawl-
    scale corpus is duplication-heavy: the 1.5M users carry only ~1,500
    DISTINCT k-sets. Dedup to distinct sets FIRST (the exact-first move
    of dedup_pipeline_exact_first, applied to set similarity):

      1. mask per user: (sorted k-set, row count n) — n is part of the
         identity because a NULL element counts in |A| but never
         intersects (the operator family's null contract).
      2. score pairs over the M distinct masks (mask id = MIN member,
         so ids are stable and deterministic) with the SAME blocked
         tile kernel — Θ(M²·K) instead of Θ(U²·K).
      3. exact pruning: each mask pair expands to a KNOWN pair count
         (C(cnt,2) within a mask at jaccard exactly size·1e6/(2n-size);
         cntA·cntB across masks at the kernel's score). Only mask pairs
         whose score ties or beats the top_k-th score of a one-each
         TakeOrdered probe can contribute — keep those.
      4. expansion: a global-top-k user pair must draw both ids from
         its classes' smallest 2·top_k+2 members (preceding-pair
         counting argument in the source), so per kept mask pair only
         that bounded cross product materializes; a final exact
         TakeOrdered(top_k) under (jaccard desc, u1, u2) finishes.

    The smallest-members lists come from a SALTED two-phase order-
    statistic aggregate (per (mask, salt) local sorted-prefix arrays,
    then a bounded merge) so a boilerplate mask shared by 25M users
    never funnels one task.

    Returns None when the universe exceeds ``max_universe`` (sparse
    regime: co-occurrence join) or the distinct-mask count exceeds
    ``max_masks`` (no duplication to exploit: the caller's tiled
    ``dense_jaccard_pairs(top_k=...)`` is the right plan). Worst case
    equals the old cost; duplication-heavy data drops to linear + M².
    """
    ks = collect_if_small(
        uk.select(k_col).filter(F.col(k_col).isNotNull()).distinct(), max_universe
    )
    if ks is None:
        return None
    spark = uk.sparkSession
    bound = 2 * top_k + 2

    per_user = uk.groupBy(F.col(user_col).alias("u")).agg(
        F.array_sort(F.collect_set(k_col)).alias("ks"),
        F.count(F.lit(1)).alias("n"),
    )
    # Salted order-statistic: smallest `bound` members per mask without
    # ever grouping a hot mask's members into one task.
    part = per_user.withColumn(
        "salt", F.pmod(F.xxhash64("u"), F.lit(n_salts))
    ).groupBy("ks", "n", "salt").agg(
        F.slice(F.array_sort(F.collect_list("u")), 1, bound).alias("m"),
        F.count(F.lit(1)).alias("c"),
    )
    groups = part.groupBy("ks", "n").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("m"))), 1, bound
        ).alias("members"),
        F.sum("c").alias("cnt"),
    ).withColumn("rep", F.col("members")[0])
    groups = groups.localCheckpoint(eager=True, storageLevel=CKPT_DESER)

    n_masks = groups.count()
    if n_masks > max_masks:
        return None
    if n_masks == 0:
        return spark.createDataFrame(
            [], "u1 long, u2 long, both_n long, jaccard_ppm long"
        )

    # Mask-level scoring through the SAME tile kernel: rebuild (rep, k)
    # rows; a mask whose n exceeds its non-null size carried exactly one
    # NULL element row (uk is distinct), re-added so the kernel's
    # COUNT(*) semantics reproduce n.
    mask_rows = groups.select(
        F.col("rep").alias(user_col), F.explode("ks").alias(k_col)
    ).unionAll(
        groups.filter(F.col("n") > F.size("ks")).select(
            F.col("rep").alias(user_col),
            F.lit(None).cast("long").alias(k_col),
        )
    )
    # the masks' non-NULL elements are exactly uk's, so the universe
    # collected above is theirs too, and their users are the n_masks
    # distinct reps: the tiles need neither a second probe nor a count
    cross = _dense_jaccard_tiles(
        mask_rows, ks, user_col, k_col, block_rows=2048, top_k=None, n_users=n_masks
    )
    reps = groups.select(
        F.col("rep"), "members", "cnt", "n", F.size("ks").alias("sz")
    )
    r1 = reps.select(
        F.col("rep").alias("u1"), F.col("members").alias("m1"),
        F.col("cnt").alias("c1"),
    )
    r2 = reps.select(
        F.col("rep").alias("u2"), F.col("members").alias("m2"),
        F.col("cnt").alias("c2"),
    )
    cross = (
        cross.join(F.broadcast(r1), "u1")
        .join(F.broadcast(r2), "u2")
        .select(
            "m1", "m2", "both_n", "jaccard_ppm",
            (F.col("c1") * F.col("c2")).alias("expn"),
        )
    )
    # sz = 0 masks (only-NULL sets) share no element with anyone — the
    # join/tile planes never materialize such pairs; neither do we.
    selfp = reps.filter((F.col("cnt") >= 2) & (F.col("sz") >= 1)).select(
        F.col("members").alias("m1"),
        F.col("members").alias("m2"),
        F.col("sz").alias("both_n"),
        # integer floor division end-to-end (a double quotient could land
        # one ulp under an exact integer and truncate wrong)
        F.expr(
            "CAST((sz * 1000000) DIV (2 * n - sz) AS BIGINT)"
        ).alias("jaccard_ppm"),
        F.expr("CAST((cnt * (cnt - 1)) DIV 2 AS BIGINT)").alias("expn"),
    )
    mask_pairs = cross.unionByName(
        selfp.withColumn("is_self", F.lit(True)), allowMissingColumns=True
    ).fillna({"is_self": False}).localCheckpoint(eager=True, storageLevel=CKPT_DESER)

    # Exact prune via KNOWN pair counts: every expansion of a mask pair
    # shares its score, so walking mask pairs in score-desc order and
    # accumulating expn (c1*c2 cross / C(cnt,2) self — exact counts, not
    # the slice bound) proves "at least top_k user pairs score >= j" as
    # soon as the running sum reaches top_k; that j is a valid — and
    # sharper — lower bound on the global top_k-th score than the old
    # one-pair-each probe, which pessimistically assumed expn == 1.
    probe = (
        mask_pairs.orderBy(F.desc("jaccard_ppm"))
        .select("jaccard_ppm", "expn")
        .limit(top_k)
        .collect()
    )
    if not probe:
        return spark.createDataFrame(
            [], "u1 long, u2 long, both_n long, jaccard_ppm long"
        )
    jmin, cum = probe[-1]["jaccard_ppm"], 0
    for r in probe:
        cum += r["expn"]
        if cum >= top_k:
            jmin = r["jaccard_ppm"]
            break
    kept = mask_pairs.filter(F.col("jaccard_ppm") >= F.lit(jmin))

    within = kept.filter("is_self").select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(m1) - 2), i -> "
                "transform(sequence(i + 1, size(m1) - 1), j -> "
                "struct(m1[i] AS u1, m1[j] AS u2))))"
            )
        ).alias("p"),
        "both_n",
        "jaccard_ppm",
    )
    between = (
        kept.filter(~F.col("is_self"))
        .select(F.explode("m1").alias("a"), "m2", "both_n", "jaccard_ppm")
        .select(
            "a", F.explode("m2").alias("b"), "both_n", "jaccard_ppm"
        )
        .select(
            F.struct(
                F.least("a", "b").alias("u1"),
                F.greatest("a", "b").alias("u2"),
            ).alias("p"),
            "both_n",
            "jaccard_ppm",
        )
    )
    return (
        within.unionAll(between)
        .select(
            F.col("p.u1").alias("u1"),
            F.col("p.u2").alias("u2"),
            "both_n",
            "jaccard_ppm",
        )
        .orderBy(F.desc("jaccard_ppm"), "u1", "u2")
        .limit(top_k)
    )


def _dot_sql(a: str, b: str) -> str:
    """DuckDB twin of ``_dot``: list_sum folds doubles in list order —
    verified bit-identical to Spark's sequential F.aggregate at the
    fixture scales (similarity_topk has hash-matched since round 1)."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def _norm_sql(a: str) -> str:
    return (
        f"SQRT(list_sum(list_transform({a}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )


def cosine_sim_sql(a: str, b: str) -> str:
    return f"({_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)}))"


def lsh_planes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """The random-hyperplane set — one definition shared by the Spark
    operator and the DuckDB oracle (embedded as float literals, ``repr``
    round-trips doubles exactly)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(num_planes)]


def cosine_pairs_lsh_sql(
    dim: int,
    threshold: float,
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    table: str = "embeddings",
    id_expr: str = "vec_id",
    vec_expr: str = "embedding",
) -> str:
    """DuckDB oracle twin of ``cosine_pairs_lsh``: identical hyperplanes
    (same seed), identical sign-bit sketch, banded candidates, exact
    cosine verify at the same rounding."""
    planes = lsh_planes(dim, num_planes, seed)
    bpb = num_planes // bands
    bit_exprs = ",\n        ".join(
        f"CASE WHEN {_dot_sql('vec', '[' + ', '.join(repr(w) for w in plane) + ']')}"
        f" > 0 THEN 1 ELSE 0 END"
        for plane in planes
    )
    band_val = " + ".join(
        f"bt[band * {bpb} + {i + 1}] * {2 ** (bpb - 1 - i)}" for i in range(bpb)
    )
    return f"""
    WITH v AS (SELECT {id_expr} AS id, {vec_expr} AS vec FROM {table}),
    bits AS (
      SELECT id, vec, [
        {bit_exprs}
      ] AS bt FROM v),
    banded AS (
      SELECT id, band, {band_val} AS bk
      FROM bits CROSS JOIN (SELECT UNNEST(range({bands})) AS band) b),
    cand AS (
      SELECT DISTINCT x.id AS id_a, y.id AS id_b
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bk = y.bk AND x.id < y.id),
    scored AS (
      SELECT id_a, id_b,
             ROUND({cosine_sim_sql('a.vec', 'b.vec')}, 4) AS cosine_sim
      FROM cand JOIN v a ON a.id = cand.id_a JOIN v b ON b.id = cand.id_b)
    SELECT id_a, id_b, cosine_sim FROM scored WHERE cosine_sim >= {threshold}
    """


def ivf_topk_sql(
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    table: str = "embeddings",
    id_expr: str = "vec_id",
    vec_expr: str = "embedding",
) -> str:
    """DuckDB oracle twin of ``ivf_topk`` (query = vec_id 0, candidates =
    the rest): same deterministic centroid sample (id % 97 < nlist, first
    nlist by id), same nearest-centroid assignment with (cdist, cid)
    tie-break, same nprobe probe set, same final rounded top-k."""
    return f"""
    WITH q AS (SELECT {vec_expr} AS qvec FROM {table} WHERE {id_expr} = 0),
    emb AS (SELECT {id_expr} AS id, {vec_expr} AS vec FROM {table} WHERE {id_expr} <> 0),
    cents AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) AS cid, vec AS cvec
      FROM emb WHERE id % 97 < {nlist}
      QUALIFY cid <= {nlist}),
    assigned AS (
      SELECT id, vec, cid FROM (
        SELECT e.id, e.vec, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.id
                 ORDER BY -({cosine_sim_sql('e.vec', 'c.cvec')}), c.cid) AS rn
        FROM emb e CROSS JOIN cents c) t
      WHERE rn = 1),
    probe AS (
      SELECT cid FROM cents CROSS JOIN q
      ORDER BY -({cosine_sim_sql('cvec', 'qvec')}), cid LIMIT {nprobe})
    SELECT a.id AS {id_expr},
           ROUND({cosine_sim_sql('a.vec', 'q.qvec')}, 4) AS cosine_sim
    FROM assigned a JOIN probe USING (cid) CROSS JOIN q
    ORDER BY cosine_sim DESC, a.id LIMIT {k}
    """


def knn_join(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    round_digits: int | None = 4,
) -> DataFrame:
    """k-NN join: for EVERY query vector, its top-k candidates by cosine.

    The query batch is broadcast (one scan of the candidate side serves
    all queries); per-query ranking is a window keyed on the query id, so
    the shuffle carries |candidates|·|queries| scored rows hashed by qid.
    That product is the operator's scale bound — for query batches too
    large to broadcast, switch to ``ivf_topk`` per centroid block (the
    IVF route prunes candidates before scoring instead of after).

    Result: (qid, id, cosine_sim), ≤ k rows per qid, deterministic
    tie-break on id.

    Scoring runs as a vectorized Arrow kernel (``mapInPandas`` over the
    candidate side with the collected query batch in the closure) rather
    than the ``cosine_sim`` higher-order expression: Spark evaluates HOF
    lambdas interpreted per element, so |candidates|·|queries|·dim
    interpreted evals dominated the operator (measured 1.9 s → 0.6 s at
    sf1 for identical output). The kernel accumulates dot and norm
    SEQUENTIALLY over dimensions — the same ``((0+p₀)+p₁)+…`` double
    order as ``F.aggregate`` and DuckDB ``list_sum`` — so the scores are
    bit-identical to the expression form (see block_cosine_pairs). A
    query batch too large to hold driver-side falls back to the
    broadcast-join expression path (same results, same window).
    """
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine_sim"), id_col)

    def _rank(scored: DataFrame) -> DataFrame:
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    # Probe ONE row past the driver-batch bound so deciding the path never
    # materializes an over-sized query side on the driver (collecting the
    # full frame just to measure it would OOM at exactly the scale the
    # fallback exists for).
    qrows = queries.select(qid_col, qvec_col).limit(4097).collect()
    if len(qrows) > 4096:  # not a driver-held batch — expression path
        sim = cosine_sim(F.col(vec_col), F.col(qvec_col))
        if round_digits is not None:
            sim = F.round(sim, round_digits)
        return _rank(
            embeddings.join(F.broadcast(queries)).select(
                F.col(qid_col), F.col(id_col), sim.alias("cosine_sim")
            )
        )

    qids = [r[0] for r in qrows]
    qvecs = [list(r[1]) for r in qrows]
    qid_t = dict(queries.dtypes)[qid_col]
    id_t = dict(embeddings.dtypes)[id_col]
    schema = f"`{qid_col}` {qid_t}, `{id_col}` {id_t}, cosine_raw double"

    def scorer(batches):
        import numpy as np
        import pandas as pd

        Qm = np.asarray(qvecs, dtype=np.float64)
        dim = Qm.shape[1] if len(Qm) else 0
        qn = np.zeros(len(Qm))
        for c in range(dim):  # sequential fold, same double order as _norm
            qn = qn + Qm[:, c] * Qm[:, c]
        qn = np.sqrt(qn)
        qid_arr = np.asarray(qids)
        for pdf in batches:
            if len(pdf) == 0 or len(Qm) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            cn = np.zeros(len(M))
            for c in range(dim):
                cn = cn + M[:, c] * M[:, c]
            cn = np.sqrt(cn)
            dot = np.zeros((len(M), len(Qm)))
            for c in range(dim):
                dot = dot + M[:, c][:, None] * Qm[:, c][None, :]
            # zero-norm vectors: the expression path's Divide returns
            # NULL (sorted last, never top-k); numpy would produce NaN,
            # which Spark sorts FIRST under desc — emit true NULLs so
            # both paths rank identically
            denom = cn[:, None] * qn[None, :]
            bad = denom == 0
            sim = np.where(bad, 0.0, dot) / np.where(bad, 1.0, denom)
            vals = sim.ravel().astype(object)
            vals[bad.ravel()] = None
            yield pd.DataFrame(
                {
                    qid_col: np.repeat(qid_arr[None, :], len(M), 0).ravel(),
                    id_col: np.repeat(ids, len(Qm)),
                    "cosine_raw": vals,
                }
            )

    scored = embeddings.select(id_col, vec_col).mapInPandas(scorer, schema)
    sim_col = F.col("cosine_raw")
    if round_digits is not None:
        sim_col = F.round(sim_col, round_digits)
    return _rank(
        scored.select(qid_col, id_col, sim_col.alias("cosine_sim"))
    )
