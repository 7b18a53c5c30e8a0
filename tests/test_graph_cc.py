"""connected_components unit tests — merge shapes the fixture chains lack."""

from __future__ import annotations

from delta_unity_duckdb_spark.operators.graph import connected_components


def _cc(spark, edge_list):
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = connected_components(edges)
    return {r.node: r.component for r in got.collect()}


def test_two_chains_and_a_bridge(spark):
    # 1-2-3-4 and 10-11-12, then 4-10 bridges them into one component
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (4, 10)]
    labels = _cc(spark, edges)
    assert set(labels.values()) == {1}
    assert len(labels) == 7


def test_disjoint_components_keep_min_labels(spark):
    edges = [(5, 6), (6, 7), (20, 21), (40, 41), (41, 42), (42, 40)]  # incl. a cycle
    labels = _cc(spark, edges)
    assert labels == {5: 5, 6: 5, 7: 5, 20: 20, 21: 20, 40: 40, 41: 40, 42: 40}


def test_star_and_long_chain(spark):
    # star centered far from its min id + a 64-node chain (pointer jumping
    # must converge well under max_iter=32 ≈ 2^32 hop coverage)
    star = [(100, i) for i in range(90, 100)]
    chain = [(i, i + 1) for i in range(200, 264)]
    labels = _cc(spark, star + chain)
    assert {labels[n] for n in range(90, 101)} == {90}
    assert {labels[n] for n in range(200, 265)} == {200}


def test_direction_is_ignored(spark):
    # edges given "backwards" — undirected semantics must still merge
    labels = _cc(spark, [(3, 1), (2, 3)])
    assert labels == {1: 1, 2: 1, 3: 1}


class TestPagerank:
    """Invariants of ``pagerank_int`` (scaled-integer ranks)."""

    def _pr(self, spark, rows, **kw):
        from delta_unity_duckdb_spark.operators.graph import pagerank_int

        e = spark.createDataFrame(rows, "src long, dst long")
        return {r["node"]: r["rank_scaled"] for r in pagerank_int(e, **kw).collect()}

    def test_mass_conserved(self, spark):
        from delta_unity_duckdb_spark.operators.graph import PAGERANK_SCALE

        edges = [(1, 2), (2, 3), (3, 1), (4, 1)]
        ranks = self._pr(spark, edges)
        # each floor division leaks under one unit: the initial share per
        # node, then per iteration rank÷out_degree per edge and, per node,
        # the dangling share, the damping division and the teleport term
        n = len(ranks)
        leak = n + 8 * (len(edges) + 3 * n)
        assert PAGERANK_SCALE - leak <= sum(ranks.values()) <= PAGERANK_SCALE

    def test_star_center_dominates(self, spark):
        ranks = self._pr(spark, [(i, 0) for i in range(1, 8)])
        center = ranks[0]
        assert all(center > ranks[i] for i in range(1, 8))

    def test_chain_rank_increases_downstream(self, spark):
        ranks = self._pr(spark, [(1, 2), (2, 3), (3, 4)])
        assert ranks[1] < ranks[2] < ranks[3] < ranks[4]

    def test_partition_count_independent(self, spark, monkeypatch):
        """Integer arithmetic ⇒ bit-identical ranks at any parallelism,
        in the distributed regime too."""
        import delta_unity_duckdb_spark.operators.graph as G

        monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 0)
        rows = [(i, (i * 7) % 50) for i in range(200) if i != (i * 7) % 50]
        e1 = spark.createDataFrame(rows, "src long, dst long").repartition(1)
        e2 = spark.createDataFrame(rows, "src long, dst long").repartition(13)
        r1 = {r["node"]: r["rank_scaled"] for r in G.pagerank_int(e1, iterations=3).collect()}
        r2 = {r["node"]: r["rank_scaled"] for r in G.pagerank_int(e2, iterations=3).collect()}
        assert r1 == r2


def test_kcore_fixpoint_and_nesting(spark, sf_dir):
    """12 pruning rounds reach the fixpoint on the fixture graph (extra
    rounds change nothing), every core vertex meets the degree bound, and
    cores nest: the (k+1)-core is a subgraph of the k-core."""
    from pyspark.sql import functions as F

    from delta_unity_duckdb_spark.functions.hashing import hash60
    from delta_unity_duckdb_spark.operators.graph import kcore
    from delta_unity_duckdb_spark.sources.tables import load_table

    op = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = op.alias("a"), op.alias("b")
    pk = F.concat(
        F.least(F.col("a.p"), F.col("b.p")).cast("string"),
        F.lit("-"),
        F.greatest(F.col("a.p"), F.col("b.p")).cast("string"),
    )
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") != F.col("b.p")))
        .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"), hash60(pk).alias("hk"))
        .filter(F.pmod(F.col("hk"), F.lit(10)) == 0)
        .select("src", "dst")
        .distinct()
    )
    def edge_set(df):
        return {(r["src"], r["dst"]) for r in df.collect()}

    c12 = edge_set(kcore(edges, k=6, rounds=12))
    c14 = edge_set(kcore(edges, k=6, rounds=14))
    assert c12 == c14  # fixpoint
    if c12:
        from collections import Counter
        deg = Counter(s for s, _ in c12)
        assert min(deg.values()) >= 6
    c7 = edge_set(kcore(edges, k=7, rounds=12))
    assert c7 <= c12  # nesting


def test_fast_paths_match_distributed_paths(spark):
    """The driver fast paths (union-find CC, numpy k-core) must be
    VALUE-IDENTICAL to the distributed implementations on the same graph.
    Forced by setting SMALL_GRAPH_EDGES to 0 (distributed) vs default
    (fast): two triangles bridged by a chain + a 4-clique + isolates."""
    import delta_unity_duckdb_spark.operators.graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 7), (7, 5),
         (10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13)],
        "src long, dst long",
    )
    sym = edges.union(edges.selectExpr("dst as src", "src as dst"))

    def cc_set(df):
        return {(r["node"], r["component"]) for r in df.collect()}

    def core_set(df):
        return {(r["src"], r["dst"]) for r in df.collect()}

    fast_cc = cc_set(G.connected_components(edges))
    fast_core = core_set(G.kcore(sym, k=3, rounds=8))
    orig = G.SMALL_GRAPH_EDGES
    G.SMALL_GRAPH_EDGES = 0
    try:
        dist_cc = cc_set(G.connected_components(edges))
        dist_core = core_set(G.kcore(sym, k=3, rounds=8))
    finally:
        G.SMALL_GRAPH_EDGES = orig
    assert fast_cc == dist_cc
    assert fast_core == dist_core
    # sanity: the 4-clique is the only 3-core
    assert {s for s, _ in fast_core} == {10, 11, 12, 13}


def test_pagerank_int_fast_path_matches_distributed(spark):
    """Round-9 regime split: pagerank_int runs the power iteration
    driver-side (vectorized int64 numpy) under SMALL_GRAPH_EDGES. Must be
    VALUE-identical to the distributed loop — dangling nodes (4 has no
    out-edge), duplicate edges (1→2 twice weights out-degree and
    contribution), and a multi-component shape all exercised."""
    import delta_unity_duckdb_spark.operators.graph as G

    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3), (3, 1), (3, 4), (10, 11), (11, 10)],
        "src long, dst long",
    )

    def ranks(df):
        return {(r["node"], r["rank_scaled"]) for r in df.collect()}

    fast = ranks(G.pagerank_int(edges, iterations=4))
    orig = G.SMALL_GRAPH_EDGES
    G.SMALL_GRAPH_EDGES = 0
    try:
        dist = ranks(G.pagerank_int(edges, iterations=4))
    finally:
        G.SMALL_GRAPH_EDGES = orig
    assert fast == dist
    assert len(fast) == 6
    # fixed-point mass stays ≈ scale (floor leaks only a few units/node)
    total = sum(r for _, r in fast)
    assert abs(total - G.PAGERANK_SCALE) < 100 * len(fast)


def test_triangle_regimes_identical(spark, sf_dir):
    """graph_triangles' three regimes (driver numpy kernel / packed-key
    broadcast joins / packed-key shuffle joins) must be VALUE-identical
    on the real fixture."""
    import delta_unity_duckdb_spark.workload.graphq as GQ
    from delta_unity_duckdb_spark.workload import QUERIES

    def row(df):
        r = df.collect()[0]
        return (r["n_vertices"], r["n_edges"], r["n_triangles"])

    driver = row(QUERIES["graph_triangles"](spark, sf_dir))
    orig_rows, orig_bcast = GQ.TRI_DRIVER_MAX_ROWS, GQ.TRI_BCAST_MAX_EDGES
    try:
        GQ.TRI_DRIVER_MAX_ROWS = 0
        bcast = row(QUERIES["graph_triangles"](spark, sf_dir))
        GQ.TRI_BCAST_MAX_EDGES = 0
        shuffle = row(QUERIES["graph_triangles"](spark, sf_dir))
    finally:
        GQ.TRI_DRIVER_MAX_ROWS, GQ.TRI_BCAST_MAX_EDGES = orig_rows, orig_bcast
    assert driver == bcast == shuffle
    assert driver[2] > 0  # the fixture graph has triangles — non-vacuous


def test_triangle_kernel_matches_bruteforce():
    """copurchase_triangle_stats vs a brute-force reference on random
    (order, part) multisets — duplicates, singleton orders, chunked wedge
    enumeration, and the bitmap/searchsorted membership variants."""
    from itertools import combinations

    import numpy as np

    from delta_unity_duckdb_spark.operators.graph import (
        copurchase_triangle_stats,
    )

    def brute(o, p):
        orders: dict[int, set[int]] = {}
        for oo, pp in set(zip(o, p)):
            orders.setdefault(oo, set()).add(pp)
        E = set()
        for s in orders.values():
            E.update(combinations(sorted(s), 2))
        V = {x for e in E for x in e}
        adj: dict[int, set[int]] = {}
        for u, v in E:
            adj.setdefault(u, set()).add(v)
        tri = sum(
            len(adj.get(u, set()) & adj.get(v, set())) for u, v in E
        )
        return (len(V), len(E), tri)

    rng = np.random.default_rng(17)
    for _ in range(15):
        n = int(rng.integers(1, 300))
        o = rng.integers(0, 25, n).astype(np.int64)
        p = rng.integers(0, 20, n).astype(np.int64)
        exp = brute(o.tolist(), p.tolist())
        assert copurchase_triangle_stats(o, p) == exp
        # chunked wedges and searchsorted membership: same values
        assert copurchase_triangle_stats(o, p, max_wedge_chunk=64) == exp
        assert copurchase_triangle_stats(o, p, max_bitmap_bytes=0) == exp
    # domain guards: fall through to the distributed path, never wrong
    one = np.array([1], dtype=np.int64)
    assert copurchase_triangle_stats(-one, one) is None
    assert copurchase_triangle_stats(one, np.array([1 << 31], dtype=np.int64)) is None
    assert (
        copurchase_triangle_stats(
            np.array([1, 1, 1], dtype=np.int64),
            np.array([1, 2, 3], dtype=np.int64),
            max_pairs=2,
        )
        is None
    )
    assert copurchase_triangle_stats(one[:0], one[:0]) == (0, 0, 0)


def test_fast_paths_tolerate_null_endpoints(spark):
    """NULL endpoints cannot form edges: both fast paths must drop them
    (the distributed equi-joins do) instead of NaN-poisoning the driver
    structures."""
    import delta_unity_duckdb_spark.operators.graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 4), (5, None)], "src long, dst long"
    )
    cc = {(r["node"], r["component"]) for r in G.connected_components(edges).collect()}
    assert cc == {(1, 1), (2, 1), (3, 1)}
    sym = edges.union(edges.selectExpr("dst as src", "src as dst"))
    core = G.kcore(sym, k=1, rounds=4)
    assert {(r["src"], r["dst"]) for r in core.collect()} == {
        (1, 2), (2, 3), (2, 1), (3, 2)
    }


def test_connected_components_drops_null_endpoint_edges_in_both_regimes(spark, monkeypatch):
    """An edge with a NULL endpoint connects nothing: neither the NULL nor
    its otherwise isolated partner gets a label, in either regime."""
    import delta_unity_duckdb_spark.operators.graph as G

    edges = spark.createDataFrame([(1, 2), (None, 5), (6, None)], "src long, dst long")
    fast = {tuple(r) for r in G.connected_components(edges).collect()}
    monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 0)
    dist = {tuple(r) for r in G.connected_components(edges).collect()}
    assert fast == dist == {(1, 1), (2, 1)}
