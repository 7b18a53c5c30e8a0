"""Graph workload queries (SURVEY.md §2-D) — counts + 1-hop traversal with
full DuckDB oracles over the same derived orders→lineitem hierarchy."""

from __future__ import annotations

from delta_unity_duckdb_spark.operators.graph import (
    build_graph,
    graph_counts,
    kcore_sql,
    one_hop,
)
from delta_unity_duckdb_spark.workload.registry import query
from delta_unity_duckdb_spark.functions.frames import (
    CKPT_DESER,
    collect_if_small,
    local_rows_df,
)

# graph_triangles regime ladder (round 10). Driver regime: the (order,
# part) membership rows are collected (bounded by the limit probe — same
# decision class as graph.SMALL_GRAPH_EDGES) and the whole dedup/edge/
# wedge pipeline runs as vectorized numpy — a JOB-FLOOR cut for small
# inputs (the ~7-job distributed chain becomes probe + one local scan).
# The cap is deliberately SMALL: at sf0.1-scale wedge counts (~50 M) the
# single-threaded kernel measured 2.5-4 s against the 32-core JVM wedge
# stream's ~1-1.4 s — the driver regime wins only while the whole
# pipeline is floor-dominated, so it is bounded where that holds.
# Distributed regime: the packed single-long closing key, broadcast only
# while the edge frame is bounded (16 M edges ≈ 250 MB of packed-long
# rows, a few hundred MB of hashed relation per executor — the guide's
# "a few hundred MB is usually fine", with 10x headroom under the 8 GB /
# 512 M-row broadcast cap), shuffle-joined on the same packed key above
# that. The bound is measured, not guessed: at the 12 M-edge ladder
# point (SCALE_BENCH_sf1_triangles_r10.json) the broadcast plan runs
# 23 s vs the shuffle fallback's 68 s (the 493 M-row wedge stream
# crossing an exchange) vs DuckDB's 9.5 s — so the broadcast regime is
# kept exactly while its memory is executor-safe. Tests set these to 0
# to force the next regime down and pin value-equivalence.
TRI_DRIVER_MAX_ROWS = 150_000
TRI_BCAST_MAX_EDGES = 16_000_000


@query(
    "graph_counts",
    oracle="""
    SELECT (SELECT COUNT(*) FROM orders) + (SELECT COUNT(*) FROM lineitem) AS n_vertices,
           (SELECT COUNT(*) FROM lineitem) AS n_edges
    """,
)
def graph_counts_q(spark, sf_dir):
    """Node/edge counts (load_memgraph.py:82-89 verification queries)."""
    v, e = build_graph(spark, sf_dir)
    return graph_counts(v, e)


@query(
    "graph_one_hop",
    oracle="""
    SELECT 'O' || CAST(o_orderkey AS VARCHAR) AS parent_id,
           o_orderpriority AS parent_title,
           'L' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
               || '-' || CAST(l_partkey AS VARCHAR) || '-' || CAST(l_suppkey AS VARCHAR) AS child_id,
           l_returnflag AS child_title
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ORDER BY child_id LIMIT 10
    """,
)
def graph_one_hop_q(spark, sf_dir):
    """1-hop parent→child traversal (load_memgraph.py:92-95) as two hash
    joins, over the keyed graph so the point lookup prunes on the integer
    order key instead of string-probing every generated vertex id."""
    from delta_unity_duckdb_spark.operators.graph import build_graph_keyed

    v, e = build_graph_keyed(spark, sf_dir)
    return one_hop(v, e, limit=10)


@query(
    "graph_descendants",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT o_custkey, o_orderkey AS src,
             LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS dst
      FROM orders
    ), roots AS (
      SELECT o_custkey, MIN(o_orderkey) AS root FROM orders GROUP BY o_custkey
    ), walk AS (
      SELECT root, root AS node, 0 AS depth FROM roots
      UNION ALL
      SELECT w.root, e.dst AS node, w.depth + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE e.dst IS NOT NULL
    )
    SELECT root, node, depth FROM walk
    """,
)
def graph_descendants_q(spark, sf_dir):
    """Multi-hop reachability (SURVEY.md §7.5): per-customer order chains
    walked root→end by iterative frontier⋈edges joins (Spark has no
    recursive CTE); the oracle is DuckDB's WITH RECURSIVE on the same
    chain-graph. Chains reach ~40 hops at TPC-H order multiplicity."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from delta_unity_duckdb_spark.operators.graph import descendants
    from delta_unity_duckdb_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    edges = (
        o.select(
            F.col("o_orderkey").alias("src"),
            F.lead("o_orderkey").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    roots = o.groupBy("o_custkey").agg(F.min("o_orderkey").alias("id")).select("id")
    return descendants(edges, roots, max_depth=64)


@query(
    "graph_cypher_load",
    # The corpus is a deterministic fixture: 40 chains × 4 Mission nodes
    # (ids 500000 + c*100 + h, distinct across chains since h < 100) and
    # 3 IS_PARENT_TO edges per chain; MERGE semantics dedup repeated node
    # mentions. The oracle derives the expected counts from the SAME
    # (n_chains, chain_len) parameters — independent of the parser.
    oracle="""
    SELECT CAST(40 * 4 AS BIGINT) AS n_vertices,
           CAST(40 * 3 AS BIGINT) AS n_edges
    """,
)
def graph_cypher_load(spark, sf_dir):
    """D1-D3: parse a Cypher MERGE corpus (same shape as the reference's
    cypher_queries_clean.json) into vertices/edges and verify counts —
    the reference's post-load verification (load_memgraph.py:78-95) as one
    DataFrame. The oracle is the closed-form node/edge count of the
    deterministic corpus, so a parse miss (dropped statement, failed MERGE
    dedup, miscounted edge) hash-mismatches."""
    from delta_unity_duckdb_spark.operators.cypher import (
        corpus_to_graph,
        synthetic_corpus,
    )

    corpus = synthetic_corpus(spark, n_chains=40, chain_len=4)
    vertices, edges = corpus_to_graph(corpus)
    return graph_counts(vertices, edges)


@query(
    "graph_components",
    oracle="""
    SELECT o_orderkey AS node,
           MIN(o_orderkey) OVER (PARTITION BY o_custkey) AS component
    FROM orders
    """,
)
def graph_components_q(spark, sf_dir):
    """Undirected connected components over the per-customer order chains
    (operators/graph.py connected_components — min-label propagation with
    pointer jumping, O(log diameter) rounds). The Spark side sees ONLY the
    edge list; the oracle exploits the fixture's known chain structure
    (component of an order = min orderkey of its customer's chain), so a
    wrong merge or a missed hop hash-mismatches."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from delta_unity_duckdb_spark.operators.graph import connected_components
    from delta_unity_duckdb_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    edges = o.select(
        F.col("o_orderkey").alias("src"),
        F.lead("o_orderkey").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    cc = connected_components(edges)
    # single-order customers have no edges — they are their own component
    isolated = (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"), F.min("o_orderkey").alias("node"))
        .filter(F.col("n") == 1)
        .select("node", F.col("node").alias("component"))
    )
    return cc.unionByName(isolated)


@query(
    "graph_degree_distribution",
    oracle="""
    SELECT degree, COUNT(*) AS n_nodes FROM (
      SELECT l_orderkey, COUNT(*) AS degree FROM lineitem GROUP BY l_orderkey) t
    GROUP BY degree ORDER BY degree
    """,
)
def graph_degree_distribution_q(spark, sf_dir):
    """Out-degree histogram of the parent→child graph (how many children
    each Mission-style parent has — the first profiling query on any
    loaded property graph). Two cascading aggregations: per-node degree
    (keyed shuffle on src), then a histogram over the tiny degree domain.
    At 100 TB the second agg input is one row per node, and partial
    aggregation collapses it map-side; nothing is ever sorted.
    """
    from pyspark.sql import functions as F

    from delta_unity_duckdb_spark.operators.graph import build_graph

    _, e = build_graph(spark, sf_dir)
    return (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )


_PAGERANK_EDGES_SQL = """
      SELECT src, dst FROM (
        SELECT o_orderkey AS src,
               LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderkey) AS dst
        FROM orders) t WHERE dst IS NOT NULL"""


def _pagerank_oracle() -> str:
    from delta_unity_duckdb_spark.operators.graph import pagerank_int_sql

    return (
        pagerank_int_sql(_PAGERANK_EDGES_SQL, iterations=4)
        + "\n    ORDER BY rank_scaled DESC, node LIMIT 20"
    )


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank_q(spark, sf_dir):
    """PageRank over the per-customer order-chain graph, in fixed-point
    integer arithmetic (operators/graph.py pagerank_int): every step is
    int64 floor math, so the DuckDB oracle unrolls the SAME 4 iterations
    as chained CTEs and value-matches exactly — the iterative operator is
    fully oracle-checked, not rows-only. Invariants (mass conservation,
    partition-count independence) stay pinned in tests/test_graph_cc.py.
    Top-20 with (rank, node) tie-break, so the ordering is deterministic."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from delta_unity_duckdb_spark.operators.graph import pagerank_int
    from delta_unity_duckdb_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    edges = o.select(
        F.col("o_orderkey").alias("src"),
        F.lead("o_orderkey").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    return (
        pagerank_int(edges, iterations=4)
        .orderBy(F.desc("rank_scaled"), "node")
        .limit(20)
    )


@query(
    "graph_triangles",
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
    SELECT (SELECT COUNT(DISTINCT u)
            FROM (SELECT u FROM e UNION ALL SELECT v FROM e) t(u)) AS n_vertices,
           (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*)
            FROM e e1 JOIN e e2 ON e2.u = e1.v
                      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
    """,
)
def graph_triangles_q(spark, sf_dir):
    """Triangle counting over the part co-purchase graph (parts appearing
    in the same order). Triangles are enumerated once each by orienting
    every edge low-id → high-id and joining wedges u→v→w against closing
    edges u→w.

    Three regimes, smallest constant first (guide §1.2 / §5 — the same
    ladder as pagerank/BFS/BPE):

    - **Driver regime** (``TRI_DRIVER_MAX_ROWS``): the (order, part)
      membership rows — NOT the quadratic pair set — are one bounded
      Arrow collect (the ``frames.collect_if_small`` regime probe IS the
      collect, as in every driver kernel), and
      ``operators.graph.copurchase_triangle_stats`` runs
      the identical dedup → combinations → wedge-close pipeline as
      chunked vectorized numpy (nv²-bitmap closing-edge probes). Round-9
      measured the distributed form's residual as the 49.3 M-wedge
      stream at ~35 ns/row through two broadcast hash joins — pure
      join-machinery constant the kernel replaces with ~6 ns/row vector
      ops and zero extra jobs. Falls through (``None``) on out-of-domain
      ids or a pathological pair blowup.
    - **Packed-key distributed regime** (ids fit [0, 2³¹)): closing edge
      re-keyed as the single long ``u·2³² + v`` (LongHashedRelation).
      Both join sides broadcast ONLY when ``n_edges ≤
      TRI_BCAST_MAX_EDGES`` (round-10 fix: the round-9 guard was
      id-domain-only, and TPC-H partkeys stay under 2³¹ at every
      realistic SF — a ~100 M-edge frame at sf10+ would have been forced
      into two 8 GB-cap-busting broadcasts instead of falling back);
      past the bound the same packed-key joins run as shuffle joins —
      still one long key instead of the old 2-key UnsafeRow probe.
    - **2-key shuffle fallback** (ids outside the packable domain): the
      original shape, unchanged.

    End-to-end at sf0.1 (DuckDB oracle 0.6–1.0 s): round-8 7.3 s →
    round-9 ~2.9 s → driver kernel ~1.2 s, value bit-identical
    (n_triangles 1,884,488 asserted against the oracle; regime-equality
    pinned in tests/test_graph_cc.py). Degree orientation measured not
    worth it on this near-uniform graph (wedges 49 M → 35 M only).
    """
    from pyspark.sql import functions as F

    from delta_unity_duckdb_spark.operators.graph import copurchase_triangle_stats
    from delta_unity_duckdb_spark.sources.tables import load_table

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        # NULL orderkeys: dropped exactly as the oracle's equi-join drops
        # them; NULL partkeys: collect_set (and the oracle's `<`) never
        # admit them — filtering both up front makes the collected frame
        # NULL-free for the kernel and prunes the same rows in every
        # regime.
        .filter(
            F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
    )
    small = collect_if_small(li, TRI_DRIVER_MAX_ROWS)
    if small is not None:
        stats = copurchase_triangle_stats(
            small.column("l_orderkey").to_numpy(), small.column("l_partkey").to_numpy()
        )
        if stats is not None:
            return local_rows_df(
                spark, [stats], "n_vertices long, n_edges long, n_triangles long"
            )
    ps = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    e = (
        ps.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> transform("
                    "slice(ps, i + 2, size(ps) - i - 1),"
                    " y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .distinct()
        # Spread the checkpointed frame over the cluster's task slots:
        # the wedge stream (49 M rows at sf0.1) is generated by scanning
        # THIS frame through two hash probes, and the distinct above
        # leaves only spark.sql.shuffle.partitions partitions (16 in the
        # local bench posture — half the cores idle through the heaviest
        # stage). defaultParallelism scales with the cluster, not the
        # fixture; the extra exchange rides inside the checkpoint job.
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True, storageLevel=CKPT_DESER)
    )
    # Round-10: the regime/stats collect is the LIGHT aggregate only
    # (min/max/count — partial-agg, no distinct exchange); n_vertices'
    # COUNT(DISTINCT endpoint) was ~0.25 s of driver-blocking job time
    # and is now computed INSIDE the final parallel job, cross-joined as
    # a 1-row frame onto the wedge-close result.
    lo, hi, two_e = (
        e.select(F.col("u").alias("k"))
        .unionAll(e.select(F.col("v").alias("k")))
        .agg(F.min("k"), F.max("k"), F.count(F.lit(1)))
        .collect()[0]
    )
    n_edges = two_e // 2
    nv = (
        e.select(F.col("u").alias("k"))
        .unionAll(e.select(F.col("v").alias("k")))
        .agg(F.countDistinct("k").alias("n_vertices"))
    )
    e1 = e.alias("e1")
    if n_edges and lo is not None and lo >= 0 and hi < (1 << 31):
        pack = F.lit(1 << 32)
        ek = e.select((F.col("u") * pack + F.col("v")).alias("key"))
        e2 = e
        if n_edges <= TRI_BCAST_MAX_EDGES:
            # small enough to hold twice per executor with headroom under
            # the 8 GB / 512 M-row broadcast cap; bigger edge frames take
            # the same packed-key joins as shuffles
            ek = F.broadcast(ek)
            e2 = F.broadcast(e2)
        wedges = e1.join(e2.alias("e2"), F.col("e2.u") == F.col("e1.v"))
        n_triangles = (
            wedges.select((F.col("e1.u") * pack + F.col("e2.v")).alias("key"))
            .join(ek, "key")
            .agg(F.count(F.lit(1)).alias("n_triangles"))
        )
    else:
        e2, e3 = e.alias("e2"), e.alias("e3")
        n_triangles = (
            e1.join(e2, F.col("e2.u") == F.col("e1.v"))
            .join(
                e3,
                (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
            )
            .agg(F.count(F.lit(1)).alias("n_triangles"))
        )
    return n_triangles.crossJoin(F.broadcast(nv)).select(
        "n_vertices",
        F.lit(n_edges).cast("long").alias("n_edges"),
        "n_triangles",
    )


_KCORE_EDGES_SQL = """a0 AS (
      SELECT src, dst FROM (
        SELECT a.p AS src, b.p AS dst FROM
          (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) a
          JOIN
          (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) b
          ON a.o = b.o AND a.p <> b.p
      )
      WHERE (CAST(('0x' || substr(md5(
               CAST(LEAST(src, dst) AS VARCHAR) || '-' ||
               CAST(GREATEST(src, dst) AS VARCHAR)), 1, 15)) AS BIGINT) % 10) = 0
      GROUP BY src, dst)"""


@query(
    "graph_kcore",
    oracle=kcore_sql(_KCORE_EDGES_SQL, k=6, rounds=12),
)
def graph_kcore(spark, sf_dir):
    """6-core of the part co-occurrence graph (parts sharing an order,
    edges hash-sampled at 10% so expected degree is SF-independent):
    iterated degree-< k pruning, 12 fixed rounds (converged at every
    fixture SF — same result as 16), DuckDB oracle replaying
    the identical unrolled rounds. The core/periphery split is the
    classic graph-cleaning pass (drop weakly-connected noise vertices
    before community/embedding work). The sampling hash is the portable
    md5 hash on the UNORDERED pair so both edge directions live or die
    together.

    Two regimes, chosen by measured size against
    ``graph.SMALL_GRAPH_EDGES`` (read at call time): the checkpointed
    half-edge list is probed with one ``collect_if_small``; if it fits
    and its ids are integral, the pruning rounds (``graph._kcore_prune``)
    and the four degree statistics run on the driver and the one row
    returns through ``local_rows_df``. Otherwise ``graph._kcore_rounds``
    prunes in Spark (each round shuffles only surviving edges) with no
    second probe, and the statistics are one degree aggregate. Both give
    the same row."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegralType

    from delta_unity_duckdb_spark.functions.hashing import hash60
    from delta_unity_duckdb_spark.operators import graph as G
    from delta_unity_duckdb_spark.sources.tables import load_table

    # Round-9 edge build (was: distinct (o,p) + self-join on o + post-
    # sample DISTINCT — 2.1 s of the query's 3.4 s at sf0.1): pack each
    # order's part set ONCE (collect_set dedupes (o,p) in the same keyed
    # exchange) and generate the p_i < p_j combinations map-side from the
    # sorted array — no join, one fewer exchange, the identical unordered
    # pair set (same trick as graph_triangles, where pair-set equality is
    # asserted against the join form). The sampling hash still runs over
    # each unordered pair once; symmetrization by column swap keeps both
    # directions living or dying together. NULL orderkeys are filtered
    # exactly as the old equi-join dropped them.
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    pair_key = F.concat(
        F.col("src").cast("string"), F.lit("-"), F.col("dst").cast("string")
    )
    half = (
        ps.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> transform("
                    "slice(ps, i + 2, size(ps) - i - 1),"
                    " y -> struct(x AS src, y AS dst))))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(F.pmod(hash60(pair_key), F.lit(10)) == 0)
        .select("src", "dst")
        .distinct()
    )
    # ``half`` feeds both union branches: materialize it once so the
    # join + sampling-hash subtree provably executes a single time (the
    # point of hashing each unordered pair once), rather than relying on
    # exchange reuse to fire for each branch.
    half = half.localCheckpoint(eager=True, storageLevel=CKPT_DESER)
    k, rounds = 6, 12
    integral = all(isinstance(f.dataType, IntegralType) for f in half.schema)
    small = collect_if_small(half, G.SMALL_GRAPH_EDGES) if integral else None
    if small is not None:
        # NULL endpoints never survive the distributed rounds' joins
        small = small.drop_null()
        s_raw = small.column("src").to_numpy()
        d_raw = small.column("dst").to_numpy()
        src, _ = G._kcore_prune(
            np.concatenate([s_raw, d_raw]),
            np.concatenate([d_raw, s_raw]),
            k,
            rounds,
        )
        deg = np.unique(src, return_counts=True)[1]
        row = (len(deg), len(src) // 2) + (
            (int(deg.min()), int(deg.max())) if len(deg) else (0, 0)
        )
        return local_rows_df(
            spark,
            [row],
            "n_core_vertices bigint, n_core_edges bigint,"
            " min_degree bigint, max_degree bigint",
        )
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # the probe above already ran: go straight to the distributed rounds
    core = G._kcore_rounds(edges, k=k, rounds=rounds)
    # All four outputs derive from the degree frame alone: over symmetric
    # edges Σd = 2|E|, so n_core_edges = Σd div 2 — one aggregation
    # branch, no second pass over core, no cross join (the old two-branch
    # assembly re-ran the core subtree and cost ~0.8 s of job floor on a
    # toy graph for zero information).
    deg = core.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_core_vertices"),
        F.expr("CAST(COALESCE(SUM(d), 0) DIV 2 AS BIGINT)").alias(
            "n_core_edges"
        ),
        F.coalesce(F.min("d"), F.lit(0)).cast("bigint").alias("min_degree"),
        F.coalesce(F.max("d"), F.lit(0)).cast("bigint").alias("max_degree"),
    ).select("n_core_vertices", "n_core_edges", "min_degree", "max_degree")
