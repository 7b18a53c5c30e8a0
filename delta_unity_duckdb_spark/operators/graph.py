"""Property-graph workload as DataFrames (reference load_memgraph.py + the
3,443-block Cypher corpus, SURVEY.md §2-D).

The reference loads ``(:Mission)-[:IS_PARENT_TO]->(:Mission)`` into Memgraph
and verifies with node count, edge count, and a 1-hop traversal
(load_memgraph.py:82-95). Spark-native: a graph is two DataFrames —
``vertices(id, title, …)`` and ``edges(src, dst)``; traversals are joins;
multi-hop reachability is an iterative join (no recursive CTE in Spark).

Fixture stand-in (FIXTURES.md §3): orders are parent vertices, lineitem rows
child vertices, one edge per lineitem.

Scale posture: traversal joins are plain equi-joins on vertex ids —
shuffle-partitioned, AQE-planned; the BFS loop re-uses a persisted frontier
and stops at a fixpoint or depth cap (no driver-side row iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_unity_duckdb_spark.sources.tables import load_table
from delta_unity_duckdb_spark.functions.frames import (
    CKPT_DESER,
    collect_if_small,
    local_rows_df,
)

# Driver-regime cap read at call time by connected_components,
# pagerank_int, kcore and descendants, and by dedup.near_dup_clusters and
# graphq.graph_kcore, which run the driver kernels themselves. Each probes
# its edges once with functions.frames.collect_if_small: graphs at or below
# this many edges (with integral ids, except in descendants) are solved on
# the driver, the same class of adaptive decision as AQE's broadcast-join
# threshold. Tests set it to 0 to force the distributed regime and pin that
# both regimes give the same rows.
SMALL_GRAPH_EDGES = 2_000_000


def copurchase_triangle_stats(
    o,
    p,
    max_pairs: int = 64_000_000,
    max_wedge_chunk: int = 8_000_000,
    max_bitmap_bytes: int = 256 << 20,
):
    """Exact (n_vertices, n_edges, n_triangles) of the co-purchase graph
    derived from (order, part) membership rows — the driver-regime kernel
    behind the ``graph_triangles`` query (same regime class as the
    pagerank/BFS/BPE driver paths: the whole input is a bounded collect,
    the per-row work is vectorized numpy, zero Spark jobs).

    Semantics are EXACTLY the distributed form's: rows dedup to distinct
    (o, p); edges are the distinct ``p_i < p_j`` pairs within each order;
    triangles are wedges u→v→w (edges oriented low→high) whose closing
    edge u→w exists. All integer-exact.

    ``o``/``p``: int64 numpy arrays (no NULLs — caller filters). Returns
    the stats tuple, or ``None`` when the input is outside the kernel's
    domain (ids not in [0, 2³¹), or the generated pair count would exceed
    ``max_pairs``) — the caller falls back to the distributed plan.

    Memory posture: wedge enumeration is chunked at ``max_wedge_chunk``
    wedges (a few hundred MB of int64 scratch per chunk, any total wedge
    count); closing-edge membership uses an nv²-bit bitmap when it fits
    ``max_bitmap_bytes`` (O(1) probes), else binary search on the sorted
    packed edge keys.
    """
    import numpy as np

    o = np.asarray(o, dtype=np.int64)
    p = np.asarray(p, dtype=np.int64)
    if len(o) == 0:
        return (0, 0, 0)
    if o.min() < 0 or p.min() < 0 or o.max() >= (1 << 31) or p.max() >= (1 << 31):
        return None
    # distinct (o, p), sorted by o then p — one packed-key unique
    key = np.unique((o << np.int64(31)) | p)
    oo = key >> np.int64(31)
    pp = key & np.int64((1 << 31) - 1)
    # group boundaries over the sorted order column
    starts = np.concatenate(([0], np.flatnonzero(np.diff(oo)) + 1))
    counts = np.diff(np.concatenate((starts, [len(oo)])))
    if int((counts * (counts - 1) // 2).sum()) > max_pairs:
        return None
    # p_i < p_j combinations, vectorized per distinct group SIZE: all
    # groups of size s form an (n_groups, s) matrix whose triu(1) column
    # pairs are exactly the sorted-within-group combinations
    us, vs = [], []
    for s in np.unique(counts):
        if s < 2:
            continue
        s = int(s)
        g_starts = starts[counts == s]
        mat = pp[g_starts[:, None] + np.arange(s)[None, :]]
        iu, ju = np.triu_indices(s, 1)
        us.append(mat[:, iu].ravel())
        vs.append(mat[:, ju].ravel())
    if not us:
        return (0, 0, 0)  # no order holds 2 parts: no edges, no vertices in E
    u = np.concatenate(us)
    v = np.concatenate(vs)
    ekeys = np.unique((u << np.int64(31)) | v)  # distinct edges, (u, v)-sorted
    u_arr = ekeys >> np.int64(31)
    v_arr = ekeys & np.int64((1 << 31) - 1)
    n_edges = len(ekeys)
    # vertex ranks from ONE unique (return_inverse), per-vertex source
    # runs from nv-sized binary searches — not per-EDGE searches (1.2 M
    # searchsorted calls measured ~0.45 s vs ~0.004 s for the nv form)
    vids, inv = np.unique(
        np.concatenate((u_arr, v_arr)), return_inverse=True
    )
    nv = len(vids)
    ru = inv[:n_edges].astype(np.int64, copy=False)
    rv = inv[n_edges:].astype(np.int64, copy=False)
    vstart = np.searchsorted(u_arr, vids, side="left")
    vdeg = np.searchsorted(u_arr, vids, side="right") - vstart
    left = vstart[rv]
    cnt = vdeg[rv]  # wedge continuations per edge (out-degree of v)
    # closing-edge membership structure
    use_bitmap = nv * nv <= max_bitmap_bytes * 8
    if use_bitmap:
        ckey = ru * np.int64(nv) + rv
        bitmap = np.zeros((nv * nv + 7) // 8, dtype=np.uint8)
        np.bitwise_or.at(
            bitmap, ckey >> np.int64(3), (1 << (ckey & 7)).astype(np.uint8)
        )
        masks = (1 << np.arange(8)).astype(np.uint8)
    # chunked wedge enumeration over the edges that HAVE continuations,
    # through PREALLOCATED scratch reused by every chunk: this host (and
    # any multi-tenant VM) charges first-touch page faults at ~3 s/GB,
    # so per-chunk fresh allocations of wedge-sized int64 temporaries
    # (the naive np.repeat/np.arange form) cost 5-10x the arithmetic —
    # the same lesson as dense_jaccard_pairs' strip processing. repeat()
    # is realized as diff-scatter + in-place cumsum into a kept buffer.
    keep = cnt > 0
    u_k, left_k, ru_k, cnt_k = u_arr[keep], left[keep], ru[keep], cnt[keep]
    csum = np.concatenate(([0], np.cumsum(cnt_k)))
    total_wedges = int(csum[-1])
    n_triangles = 0
    mx = int(min(max_wedge_chunk, max(total_wedges, 1)))
    # a chunk boundary lands at the END of the edge whose run crosses the
    # target, so a chunk can hold up to mx + max(cnt) - 1 wedges — size
    # the scratch for that
    cap = mx + (int(cnt_k.max()) if len(cnt_k) else 1)
    ar = np.arange(cap, dtype=np.int64)
    seg = np.empty(cap, dtype=np.int64)
    idx = np.empty(cap, dtype=np.int64)
    gat = np.empty(cap, dtype=np.int64)
    if use_bitmap:
        byte1 = np.empty(cap, dtype=np.uint8)
        byte2 = np.empty(cap, dtype=np.uint8)
    bounds = np.searchsorted(
        csum, np.arange(0, total_wedges + mx, mx)
    )
    bounds[-1] = len(cnt_k)
    for a, b in zip(bounds[:-1], bounds[1:]):
        if a >= b:
            continue
        tot = int(csum[b] - csum[a])
        if tot == 0:
            continue
        ls = csum[a:b] - csum[a]  # strictly increasing: cnt_k > 0
        s, ix, g = seg[:tot], idx[:tot], gat[:tot]
        # ix = repeat(left_k - ls, cnt) + arange  → positions of w = N(v)
        s.fill(0)
        s[ls] = np.diff(left_k[a:b] - ls, prepend=np.int64(0))
        np.cumsum(s, out=s)
        np.add(s, ar[:tot], out=ix)
        if use_bitmap:
            # s = repeat(ru, cnt) * nv + rv[ix]  (the packed rank key)
            s.fill(0)
            s[ls] = np.diff(ru_k[a:b], prepend=np.int64(0))
            np.cumsum(s, out=s)
            np.take(rv, ix, out=g)
            np.multiply(s, np.int64(nv), out=s)
            np.add(s, g, out=s)
            # bit probe: bitmap byte & mask-of-bit, then count nonzero
            np.right_shift(s, 3, out=ix)
            np.take(bitmap, ix, out=byte1[:tot])
            np.bitwise_and(s, 7, out=g)
            np.take(masks, g, out=byte2[:tot])
            np.bitwise_and(byte1[:tot], byte2[:tot], out=byte1[:tot])
            n_triangles += int(np.count_nonzero(byte1[:tot]))
        else:
            # s = (repeat(u, cnt) << 31) | v[ix], membership by bisect
            s.fill(0)
            s[ls] = np.diff(u_k[a:b], prepend=np.int64(0))
            np.cumsum(s, out=s)
            np.left_shift(s, 31, out=s)
            np.take(v_arr, ix, out=g)
            np.bitwise_or(s, g, out=s)
            pos = np.searchsorted(ekeys, s)
            pos[pos >= n_edges] = 0
            n_triangles += int((ekeys[pos] == s).sum())
    return (int(nv), int(n_edges), int(n_triangles))


def build_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Derive (vertices, edges) from orders→lineitem (FIXTURES.md §3)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    parent_v = orders.select(
        F.concat(F.lit("O"), F.col("o_orderkey").cast("string")).alias("id"),
        F.col("o_orderpriority").alias("title"),
    )
    # (l_orderkey, l_linenumber) is not unique in the fixtures; the full
    # unique line identity includes part+supplier.
    child_id = F.concat(
        F.lit("L"),
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
        F.lit("-"),
        F.col("l_partkey").cast("string"),
        F.lit("-"),
        F.col("l_suppkey").cast("string"),
    )
    child_v = lineitem.select(
        child_id.alias("id"), F.col("l_returnflag").alias("title")
    )
    vertices = parent_v.unionByName(child_v)
    edges = lineitem.select(
        F.concat(F.lit("O"), F.col("l_orderkey").cast("string")).alias("src"),
        child_id.alias("dst"),
    )
    return vertices, edges


def build_graph_keyed(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """``build_graph`` plus a numeric ``part_key`` column on both frames
    (the order key both endpoint ids embed). The string ids are the graph
    contract; the key column is the SCALE contract — point lookups prune
    on an integer the scan can evaluate in codegen (and, on a table
    partitioned/z-ordered by it, skip files entirely) instead of
    generating every vertex's id string just to probe a broadcast set.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    parent_v = orders.select(
        F.concat(F.lit("O"), F.col("o_orderkey").cast("string")).alias("id"),
        F.col("o_orderpriority").alias("title"),
        F.col("o_orderkey").alias("part_key"),
    )
    child_id = F.concat(
        F.lit("L"),
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
        F.lit("-"),
        F.col("l_partkey").cast("string"),
        F.lit("-"),
        F.col("l_suppkey").cast("string"),
    )
    child_v = lineitem.select(
        child_id.alias("id"),
        F.col("l_returnflag").alias("title"),
        F.col("l_orderkey").alias("part_key"),
    )
    vertices = parent_v.unionByName(child_v)
    edges = lineitem.select(
        F.concat(F.lit("O"), F.col("l_orderkey").cast("string")).alias("src"),
        child_id.alias("dst"),
        F.col("l_orderkey").alias("part_key"),
    )
    return vertices, edges


def graph_counts(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """Node + edge counts in one row (load_memgraph.py:82-89)."""
    v = vertices.agg(F.count(F.lit(1)).alias("n_vertices"))
    e = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return v.crossJoin(e)


def one_hop(
    vertices: DataFrame, edges: DataFrame, limit: int | None = 10
) -> DataFrame:
    """Parent→child traversal with titles (load_memgraph.py:92-95).

    With a limit, the top-k by child id is taken on the EDGE list first
    (a TakeOrdered, no shuffle), then only k rows are broadcast into the
    two vertex lookups. Safe because the graph maintains referential
    integrity (build_graph derives both sides from the same rows), so the
    joins never drop an edge — the planner can't know that, we do."""
    keyed = "part_key" in edges.columns and "part_key" in vertices.columns
    if limit is not None:
        # Materialize the k edges (tiny), resolve BOTH endpoints with ONE
        # pass over the vertex table, then join the (≤2k)-row vertex
        # subset — instead of streaming the full vertex table through two
        # separate lookup joins. (A collect-and-rebuild variant measured
        # ~2× slower here: Python-side row conversion plus broadcasting a
        # LocalRelation costs more than the two checkpoint jobs.)
        e = edges.orderBy("dst").limit(limit).localCheckpoint(eager=True, storageLevel=CKPT_DESER)
        needed = (
            e.select(F.col("src").alias("id"))
            .union(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        lookup = vertices
        if keyed:
            # Keyed fast path: prune the vertex scan on the k integer keys
            # BEFORE the id probe, so the scan never generates the id
            # string for a row it will drop — the difference between
            # "concat 2 passes over every vertex" and "integer-compare one
            # pass, concat k rows". On a key-partitioned table this also
            # becomes partition pruning.
            keys = [r[0] for r in e.select("part_key").distinct().collect()]
            lookup = vertices.filter(F.col("part_key").isin(keys))
        v = (
            lookup.join(F.broadcast(needed), "id")
            .select("id", "title")
            .localCheckpoint(eager=True, storageLevel=CKPT_DESER)
        )
        e = e.select("src", "dst")
    else:
        e, v = edges.select("src", "dst"), vertices.select("id", "title")
    p = v.alias("p")
    c = v.alias("c")
    joined = (
        e.join(p, e.src == F.col("p.id"))
        .join(c, e.dst == F.col("c.id"))
        .select(
            F.col("p.id").alias("parent_id"),
            F.col("p.title").alias("parent_title"),
            F.col("c.id").alias("child_id"),
            F.col("c.title").alias("child_title"),
        )
        .orderBy("child_id")
    )
    return joined.limit(limit) if limit is not None else joined


def descendants(edges: DataFrame, roots: DataFrame, max_depth: int = 10) -> DataFrame:
    """Multi-hop reachability via iterative join (SURVEY.md §7.5): Spark has
    no recursive CTE, so BFS iterates ``frontier ⋈ edges`` until empty or
    ``max_depth``. Returns (root, node, depth). ``roots`` must have column
    ``id``.

    Each materialization is ``localCheckpoint``-ed: without lineage
    truncation the final plan re-derives every frontier from scratch
    (O(depth²) joins) and a deep walk is unrunnable at any scale.

    Driver-action economics (the round-8 blind re-bench finding): the
    naive loop issues TWO driver actions per level — an eager checkpoint
    plus an ``isEmpty`` probe — so a 40-hop walk is ~80 *sequential*
    scheduling-floor jobs, 6.7 s of pure floor at sf0.1 where the oracle
    (DuckDB WITH RECURSIVE) runs in 0.5 s. The loop is depth-proportional
    regardless of data size, so the constant is cut in two regimes, picked
    by one ``collect_if_small`` probe of the edge list against
    ``SMALL_GRAPH_EDGES`` (the same class of decision as AQE's broadcast
    threshold):

    - **floor regime** (edges ≤ ``SMALL_GRAPH_EDGES``): the probe is the
      edge list; the roots are one more collect, the BFS runs as
      vectorized hops over the src-sorted edges on the driver, and one
      Arrow ``createDataFrame`` returns it — 2 jobs regardless of depth. Multiplicity semantics are
      preserved exactly (every path emits, as UNION ALL recursion does);
      a NULL node is emitted and never expands, as in the joins. A
      lazy-batched distributed variant (k levels per checkpoint, probed
      once per block) was built and measured first and LOST — 7.9 s vs
      the naive loop's 6.7 s at sf0.1 — because the block union re-derives
      level i as i serial joins inside one task; the driver hop walk runs
      the same fixture in well under a second. Output size equals the
      answer's size, which the distributed path would also materialize.
    - **scale regime** (bigger graphs): the edges are persisted for the
      walk; per-level checkpoint — the eager checkpoint IS the
      materializing job, one action per level — with the emptiness probe
      run only every 4 levels against already-materialized partitions.
      Join work stays linear in depth; an overshoot past the true fixpoint
      costs at most 3 cheap empty-frontier jobs, against ``depth`` probe
      jobs saved."""
    from functools import reduce

    from pyspark.sql import types as T

    edges = edges.select("src", "dst")
    small = collect_if_small(edges, SMALL_GRAPH_EDGES)
    if small is not None:
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        # successor lists are the runs of the src-sorted edge list. Every
        # dst and root is looked up among the run keys once, as the index
        # of its run (-1: none, also for NULL); each level then expands
        # the matched runs with repeat/arange over those indices, and the
        # output gathers the exact Arrow values at the end. Every path
        # emits, as UNION ALL recursion does; a NULL node never expands.
        e = small.filter(pc.is_valid(small["src"])).sort_by("src")
        runs = pc.run_end_encode(e["src"].combine_chunks())
        ends = runs.run_ends.to_numpy().astype(np.int64)
        lens = np.diff(ends, prepend=0)
        starts = ends - lens
        dst = e["dst"].combine_chunks()
        root = roots.select("id").toArrow().column(0).combine_chunks()
        both = pa.concat_arrays([a.cast(runs.values.type) for a in (dst, root)])
        found = pd.Index(runs.values.to_numpy(zero_copy_only=False)).get_indexer(
            both.drop_null().to_numpy(zero_copy_only=False)
        )
        run = np.full(len(both), -1)
        run[both.is_valid().to_numpy(zero_copy_only=False)] = found
        dst_run, k = run[: len(dst)], run[len(dst) :]
        ri = np.arange(len(root))  # root of each frontier row
        root_at, edge_at = [ri], [np.empty(0, np.int64)]
        for depth in range(1, max_depth + 1):
            hit = k >= 0
            cnt = np.zeros(len(k), np.int64)
            cnt[hit] = lens[k[hit]]
            if not cnt.any():
                break
            row = np.repeat(np.arange(len(k)), cnt)
            first = np.cumsum(cnt) - cnt
            pos = starts[k[row]] + np.arange(len(row)) - first[row]
            ri, k = ri[row], dst_run[pos]
            root_at.append(ri)
            edge_at.append(pos)
        schema = T.StructType(
            [
                T.StructField("root", roots.schema["id"].dataType, True),
                T.StructField("node", edges.schema["dst"].dataType, True),
                T.StructField("depth", T.IntegerType(), False),
            ]
        )
        table = pa.table(
            {
                "root": root.take(np.concatenate(root_at)),
                "node": pa.concat_arrays(
                    [root.cast(dst.type), dst.take(np.concatenate(edge_at))]
                ),
                "depth": np.repeat(
                    np.arange(len(root_at), dtype=np.int32), [len(r) for r in root_at]
                ),
            }
        )
        return edges.sparkSession.createDataFrame(table, schema)

    edges = edges.persist()
    frontier = roots.select(
        F.col("id").alias("root"), F.col("id").alias("node")
    ).localCheckpoint(eager=True, storageLevel=CKPT_DESER)
    levels = [frontier.withColumn("depth", F.lit(0))]
    for depth in range(1, max_depth + 1):
        frontier = (
            frontier.join(edges, frontier.node == edges.src)
            .select("root", F.col("dst").alias("node"))
            .localCheckpoint(eager=True, storageLevel=CKPT_DESER)
        )
        levels.append(frontier.withColumn("depth", F.lit(depth)))
        if depth % 4 == 0 and frontier.isEmpty():
            break
    edges.unpersist()
    return reduce(lambda a, b: a.unionByName(b), levels)


def _components_df(spark: SparkSession, src, dst, schema) -> DataFrame:
    """Driver kernel of ``connected_components``' small-graph regime, also
    run by ``dedup.near_dup_clusters``: union-find over the integral pairs
    ``zip(src, dst)`` (no NULLs), every node labeled with the
    minimum id of its component, returned as a (node, component) frame
    of ``schema``."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in zip(src, dst):
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    for n_ in parent:
        r_ = find(n_)
        if r_ not in comp_min or n_ < comp_min[r_]:
            comp_min[r_] = n_
    return local_rows_df(
        spark, [(n_, comp_min[find(n_)]) for n_ in parent], schema
    )


def _kcore_prune(src, dst, k: int, rounds: int):
    """Driver kernel of ``kcore``' small-graph regime, also run by
    ``graphq.graph_kcore``: up to ``rounds`` simultaneous pruning rounds
    over the symmetric int64 edge arrays (bincount degrees over dense-
    mapped ids), stopping early at the fixpoint exactly as the
    distributed rounds do. Returns the surviving (src, dst) arrays."""
    import numpy as np

    nodes = np.unique(np.concatenate([src, dst]))
    s_i = np.searchsorted(nodes, src)
    d_i = np.searchsorted(nodes, dst)
    for _ in range(rounds):
        deg = np.bincount(s_i, minlength=len(nodes))
        keep = deg >= k
        mask = keep[s_i] & keep[d_i]
        if mask.all():
            break
        s_i, d_i = s_i[mask], d_i[mask]
    return nodes[s_i], nodes[d_i]


def connected_components(edges: DataFrame, max_iter: int = 32) -> DataFrame:
    """Undirected connected components: every node labeled with the
    minimum node id reachable from it. Returns (node, component).

    Label propagation with pointer jumping: each round takes the min over
    (own label, neighbors' labels) — one hop of spread — THEN shortcuts
    ``label ← label(label)`` — doubling the effective distance covered.
    Convergence in O(log diameter) rounds instead of O(diameter); a
    40-hop chain settles in ~6 rounds. This is the DataFrame rendition of
    the map-reduce CC algorithms (hash-to-min family, Rastogi et al.) —
    no vertex-centric framework needed.

    Each round is two shuffles (neighbor agg + jump join) over (node,
    component) pairs — linear state, AQE-coalescible. Labels are
    ``localCheckpoint``-ed per round to truncate lineage (else round N
    replays rounds 1..N-1).

    Small-graph fast path: when the edge list is tiny relative to the
    cluster (``SMALL_GRAPH_EDGES``, 2M pairs ≈ tens of MB — the
    same order as a broadcast-join threshold) and node ids are integral,
    the pairs are collected and solved with driver-side union-find in one
    pass, exactly as AQE converts a small shuffle join into a broadcast:
    the iterative rounds each cost a scheduling floor that dwarfs the
    actual work at this size. Results are identical (min-id labels,
    deterministic); the distributed pointer-jumping loop remains the
    path for graphs above the threshold — candidate-pair graphs at
    100 TB stay distributed. String-id graphs always take the
    distributed path (Python and UTF8 binary collation could disagree
    on non-ASCII min labels).
    """
    from pyspark.sql.types import IntegralType

    # An edge with a NULL endpoint connects nothing. Drop it once, here:
    # the distributed loop would otherwise label the NULL and its partner.
    edges = edges.select("src", "dst").filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    integral = isinstance(edges.schema["src"].dataType, IntegralType)
    small = collect_if_small(edges, SMALL_GRAPH_EDGES) if integral else None
    if small is not None:
        return _components_df(
            edges.sparkSession,
            small.column("src").to_numpy().tolist(),
            small.column("dst").to_numpy().tolist(),
            edges.select(
                F.col("src").alias("node"), F.col("src").alias("component")
            ).schema,
        )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True, storageLevel=CKPT_DESER)
    )

    def label_sum(df):
        # decimal(38,0) so the probe cannot overflow at 1e10+ nodes
        return df.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = label_sum(labels) if integral else None
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.dst == labels.node)
            .select(F.col("src").alias("node"), "component")
            .unionByName(labels)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        jump = (
            nbr_min.alias("a")
            .join(
                nbr_min.select(
                    F.col("node").alias("jn"), F.col("component").alias("jc")
                ),
                F.col("a.component") == F.col("jn"),
                "left",
            )
            .select(
                F.col("a.node").alias("node"),
                F.least(F.col("a.component"), F.coalesce("jc", "a.component")).alias(
                    "component"
                ),
            )
            .localCheckpoint(eager=True, storageLevel=CKPT_DESER)
        )
        # Labels only ever DECREASE (min over neighborhood + shortcut), so
        # the label sum is strictly monotone until the fixpoint: an
        # unchanged sum ⇔ no label moved ⇔ converged. One cheap aggregate
        # over the freshly checkpointed frame, instead of a join-based
        # diff against the previous round. Labels with no exact sum
        # (strings) take the diff.
        if integral:
            new_sum = label_sum(jump)
            settled, prev_sum = new_sum == prev_sum, new_sum
        else:
            settled = (
                jump.join(labels.withColumnRenamed("component", "prev"), "node")
                .filter(F.col("component") != F.col("prev"))
                .isEmpty()
            )
        labels = jump
        if settled:
            break
    sym.unpersist()
    return labels


PAGERANK_SCALE = 10**15


def pagerank_int(
    edges: DataFrame,
    iterations: int = 8,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """PageRank in scaled-integer (fixed-point) arithmetic. Returns
    (node, rank_scaled) with rank_scaled = rank × ``scale`` as BIGINT.

    Every step is int64 floor arithmetic on non-negative values —
    associative sums, no rounding mode, no decimal implementation details
    — so ANY engine replaying the recurrence gets bit-identical ranks
    (the DuckDB oracle unrolls the same ``iterations`` as chained CTEs).
    Total mass ≈ ``scale`` (1e15), far under int64; per-iteration mass
    leaks a few units to floor division, identically on every engine.

    Distributed shape: per iteration one edges⋈ranks join + grouped
    sum, one 1-row dangling-mass broadcast, lineage truncated per round
    (localCheckpoint).

    Small-graph fast path (same contract and threshold as ``kcore`` /
    ``connected_components``): each distributed round is a checkpoint job
    over a state that, on a graph under ``SMALL_GRAPH_EDGES``, takes
    microseconds of arithmetic — ~12 sequential scheduling-floor jobs for
    4 rounds (measured 5.9 s warm at sf0.1, round 9). The collected edge
    list runs the IDENTICAL recurrence vectorized in int64 numpy: floor
    division on non-negative int64 matches Spark's ``div`` exactly, sums
    stay int64 (``np.add.at``, never float-weighted bincount), and the
    85·(contrib + dmass÷n) intermediate is ≤ ~8.5·10¹⁶ — inside int64
    exactly as in the distributed plan. NULL endpoints fall back to the
    distributed path (a NULL node changes n_total there; the fast path
    must not guess).
    """
    from pyspark.sql.types import IntegralType

    edges = edges.select("src", "dst")
    integral = isinstance(edges.schema["src"].dataType, IntegralType)
    small = collect_if_small(edges, SMALL_GRAPH_EDGES) if integral else None
    if (
        small is not None
        and small.column("src").null_count == 0
        and small.column("dst").null_count == 0
    ):
        import numpy as np
        import pyarrow as pa

        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("node", edges.schema["src"].dataType, True),
                T.StructField("rank_scaled", T.LongType(), True),
            ]
        )
        if small.num_rows == 0:
            return local_rows_df(edges.sparkSession, [], schema)
        s_raw = small.column("src").to_numpy()
        d_raw = small.column("dst").to_numpy()
        nodes = np.unique(np.concatenate([s_raw, d_raw]))
        n_total = len(nodes)
        s_i = np.searchsorted(nodes, s_raw)
        d_i = np.searchsorted(nodes, d_raw)
        out_deg = np.bincount(s_i, minlength=n_total)  # int64 counts
        dangling_mask = out_deg == 0
        tele = (damping_den - damping_num) * scale // (damping_den * n_total)
        rank = np.full(n_total, scale // n_total, dtype=np.int64)
        for _ in range(iterations):
            dmass = int(rank[dangling_mask].sum())
            per_edge = rank[s_i] // out_deg[s_i]
            contrib = np.zeros(n_total, dtype=np.int64)
            np.add.at(contrib, d_i, per_edge)
            rank = tele + (damping_num * (contrib + dmass // n_total)) // damping_den
        return edges.sparkSession.createDataFrame(
            pa.table({"node": nodes, "rank_scaled": rank}), schema
        )

    e = edges.persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True, storageLevel=CKPT_DESER)
    )
    n_total = nodes.count()
    out_deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    base = nodes.join(out_deg, "node", "left").localCheckpoint(eager=True, storageLevel=CKPT_DESER)

    tele = (damping_den - damping_num) * scale // (damping_den * n_total)
    ranks = base.select(
        "node", "out_degree", F.lit(scale // n_total).cast("long").alias("rank")
    ).localCheckpoint(eager=True, storageLevel=CKPT_DESER)

    for _ in range(iterations):
        dangling = ranks.filter(F.col("out_degree").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("dmass")
        )
        contribs = (
            e.join(ranks, e.src == ranks.node)
            .select("dst", F.expr("rank div out_degree").alias("c"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").cast("long").alias("contrib"))
        )
        ranks = (
            base.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "out_degree",
                (
                    F.lit(tele).cast("long")
                    + F.expr(
                        f"({damping_num} * (coalesce(contrib, 0)"
                        f" + (dmass div {n_total}))) div {damping_den}"
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True, storageLevel=CKPT_DESER)
        )
    e.unpersist()
    return ranks.select("node", F.col("rank").alias("rank_scaled"))


def pagerank_int_sql(
    edges_sql: str,
    iterations: int = 8,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = PAGERANK_SCALE,
) -> str:
    """DuckDB oracle twin of ``pagerank_int``: the power iteration unrolled
    as ``iterations`` chained CTEs over the edge list produced by
    ``edges_sql`` (columns src, dst). Floor division on non-negative
    integers matches Spark's ``div`` exactly."""
    parts = [
        f"""
    WITH edges AS ({edges_sql}),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outd AS (SELECT src AS node, COUNT(*) AS out_degree FROM edges GROUP BY src),
    base AS (SELECT node, out_degree FROM nodes LEFT JOIN outd USING (node)),
    r0 AS (
      SELECT node, out_degree,
             CAST({scale} // (SELECT n FROM nn) AS BIGINT) AS rank
      FROM base)"""
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(
            f""",
    c{i} AS (
      SELECT e.dst AS node, SUM(r.rank // r.out_degree) AS contrib
      FROM edges e JOIN r{p} r ON e.src = r.node GROUP BY e.dst),
    d{i} AS (
      SELECT COALESCE(SUM(rank), 0) AS dmass FROM r{p}
      WHERE out_degree IS NULL),
    r{i} AS (
      SELECT b.node, b.out_degree,
             CAST(({damping_den} - {damping_num}) * {scale}
                    // ({damping_den} * (SELECT n FROM nn))
                  + ({damping_num} * (COALESCE(c.contrib, 0)
                       + ((SELECT dmass FROM d{i}) // (SELECT n FROM nn))))
                    // {damping_den} AS BIGINT) AS rank
      FROM base b LEFT JOIN c{i} c USING (node))"""
        )
    parts.append(
        f"""
    SELECT node, CAST(rank AS BIGINT) AS rank_scaled FROM r{iterations}"""
    )
    return "".join(parts)


def kcore(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """k-core decomposition by iterated degree pruning: drop every vertex
    with degree < k, recompute, repeat. ``rounds`` is fixed (not
    run-to-fixpoint) so the computation is a deterministic unrollable
    plan — the DuckDB oracle replays the identical rounds; on the test
    graphs 8 rounds reaches the fixpoint anyway (asserted in tests).

    ``edges`` must be the symmetric (doubled) edge list. Each round is
    one degree aggregation + two semi-equi-joins, localCheckpoint-ed to
    truncate lineage — at 100 TB each round is a keyed shuffle of the
    SURVIVING edges only, and the edge set only shrinks.

    Early exit: pruning is monotone (the edge set only shrinks), so an
    unchanged edge count means no vertex fell below k this round — the
    fixpoint is reached and every remaining round is the identity. The
    oracle may unroll MORE rounds than we execute; converged rounds are
    idempotent, so the results agree. The count() probes run over
    already-checkpointed blocks (no recompute) and replace up to
    ``rounds - converged_at`` full pruning rounds of scheduling cost.
    """
    from pyspark.sql.types import IntegralType

    # Small-graph fast path (same contract as connected_components'): a
    # pruning round is a full pass over the surviving edges, so on a graph
    # that fits comfortably in driver memory the per-round Spark job floor
    # dominates the arithmetic by orders of magnitude. The probe is the
    # edge list; the IDENTICAL simultaneous-pruning rounds run vectorized
    # in numpy (bincount degrees over dense-mapped ids) and return via
    # Arrow. Results are exactly the distributed rounds' (same round
    # semantics, same early exit, NULL endpoints dropped as the joins drop
    # them); graphs above the threshold stay fully distributed.
    edges = edges.select("src", "dst")
    integral = isinstance(edges.schema["src"].dataType, IntegralType)
    small = collect_if_small(edges, SMALL_GRAPH_EDGES) if integral else None
    if small is None:
        return _kcore_rounds(edges, k, rounds)
    small = small.drop_null()
    src, dst = _kcore_prune(
        small.column("src").to_numpy(), small.column("dst").to_numpy(), k, rounds
    )
    import pyarrow as pa

    return edges.sparkSession.createDataFrame(
        pa.table({"src": src, "dst": dst}), edges.schema
    )


def _kcore_rounds(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """``kcore``'s distributed regime, also run by ``graphq.graph_kcore``
    above the cap: up to ``rounds`` checkpointed pruning rounds over the
    symmetric (src, dst) edges, stopping at the fixpoint."""
    alive = edges.select("src", "dst").localCheckpoint(eager=True, storageLevel=CKPT_DESER)
    prev_n = alive.count()
    for _ in range(rounds):
        keep = (
            alive.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("src")
        )
        alive = (
            alive.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .localCheckpoint(eager=True, storageLevel=CKPT_DESER)
        )
        n = alive.count()
        if n == prev_n:
            break
        prev_n = n
    return alive


def kcore_sql(edges_cte: str, k: int, rounds: int) -> str:
    """DuckDB twin of ``kcore``: the fixed pruning rounds unrolled as a
    CTE chain (same trick as clustering.kmeans_sql for iterative
    algorithms). ``edges_cte`` must define a CTE named ``a0`` holding the
    symmetric edge list (src, dst); returns SQL producing one row
    (n_core_vertices, n_core_edges, min_degree, max_degree).

    Every round CTE is ``MATERIALIZED``: DuckDB inlines plain CTEs, and
    each round references the previous one twice, so 8 inlined rounds
    would re-evaluate the base scan 2^8 times (observed as a
    too-many-open-files explosion). Materialization is the SQL analogue
    of the Spark side's per-round localCheckpoint."""
    ctes = [edges_cte.replace(" AS (", " AS MATERIALIZED (", 1)]
    prev = "a0"
    for i in range(1, rounds + 1):
        ctes.append(
            f"k{i} AS MATERIALIZED (SELECT src FROM"
            f" (SELECT src, COUNT(*) AS d FROM {prev}"
            f" GROUP BY src) WHERE d >= {k})"
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT a.src, a.dst FROM {prev} a"
            f" JOIN k{i} x ON a.src = x.src JOIN k{i} y ON a.dst = y.src)"
        )
        prev = f"a{i}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    dfin AS (SELECT src, COUNT(*) AS d FROM {prev} GROUP BY src)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_core_vertices,
           CAST((SELECT COUNT(*) FROM {prev}) // 2 AS BIGINT) AS n_core_edges,
           CAST(COALESCE(MIN(d), 0) AS BIGINT) AS min_degree,
           CAST(COALESCE(MAX(d), 0) AS BIGINT) AS max_degree
    FROM dfin
    """
    )
