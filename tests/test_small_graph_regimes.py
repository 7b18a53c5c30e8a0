"""``near_dup_clusters`` and ``graph_kcore`` must give the same rows in
both regimes: the driver regime (the default caps) and the distributed
one (every regime cap set to 0 by the ``force_distributed`` switch). Each
case runs its input through both regimes and checks which regime the
default run took, so the comparison is never between two runs of the
same path."""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

import delta_unity_duckdb_spark.operators.dedup as D
import delta_unity_duckdb_spark.operators.graph as G
from delta_unity_duckdb_spark.sources.tables import load_table
from delta_unity_duckdb_spark.workload.graphq import graph_kcore

LONG = (
    "the quick brown fox jumps over the lazy dog and runs far away home "
    "while the sun sets slowly behind distant mountains in golden light"
)
OTHER = (
    "a completely different sentence about databases and query engines "
    "that shares no shingles with the fox story at all in any way"
)


def _spy(monkeypatch, module, name):
    """Wrap ``module.name`` to record each call's (args, result)."""
    calls = []
    orig = getattr(module, name)

    def wrapped(*args, **kwargs):
        out = orig(*args, **kwargs)
        calls.append((args, out))
        return out

    monkeypatch.setattr(module, name, wrapped)
    return calls


def _clusters_both_regimes(monkeypatch, force_distributed, df, id_col="doc_id"):
    """(driver-regime rows, distributed rows, _driver_pairs results)."""
    calls = _spy(monkeypatch, D, "_driver_pairs")

    def rows():
        out = D.near_dup_clusters(df, id_col, "text").collect()
        return Counter(tuple(r) for r in out)

    fast = rows()
    force_distributed()
    dist = rows()
    return fast, dist, calls


def _docs(spark, rows, id_type="long"):
    return spark.createDataFrame(rows, f"doc_id {id_type}, text string")


def test_near_dup_clusters_regimes_on_fixture(spark, sf_dir, monkeypatch, force_distributed):
    docs = load_table(spark, sf_dir, "documents")
    fast, dist, calls = _clusters_both_regimes(monkeypatch, force_distributed, docs)
    assert len(calls) == 1 and calls[0][1] is not None  # driver regime taken
    assert fast == dist
    assert sum(n for (_, _, surv), n in fast.items() if not surv) > 0


def test_near_dup_clusters_regimes_with_oversized_bucket(spark, monkeypatch, force_distributed):
    # 1001 identical short docs fill every band bucket past
    # max_bucket_size (1000): those buckets are dropped, the docs stay
    # singletons; a real near-dup pair elsewhere still clusters
    rows = [(i, "same short boilerplate line") for i in range(1001)]
    rows += [(5000, LONG), (5001, LONG + " extra"), (5002, OTHER)]
    fast, dist, calls = _clusters_both_regimes(monkeypatch, force_distributed, _docs(spark, rows))
    assert calls[0][1] is not None
    assert fast == dist
    assert fast[(5001, 5000, False)] == 1
    assert sum(n for (_, _, surv), n in fast.items() if not surv) == 1


def test_driver_pairs_refuses_more_pairs_than_the_cap(spark):
    # 30 identical docs: 240 band rows fit a cap of 1000, but the kept
    # buckets would pair into 8 × 435 = 3480 > 1000 pairs
    docs = _docs(spark, [(i, LONG) for i in range(30)])
    banded = D._band_index(docs, "doc_id", "text", num_perm=32, bands=8)
    assert banded.count() == 240
    assert D._driver_pairs(banded, 1000, 1000) is None
    a, b = D._driver_pairs(banded, 1000, 3480)
    assert sorted(zip(a.tolist(), b.tolist())) == [
        (i, j) for i in range(30) for j in range(i + 1, 30)
    ]


def test_near_dup_clusters_regimes_with_nulls_and_short_docs(
    spark, monkeypatch, force_distributed
):
    rows = [
        (1, LONG),
        (2, LONG + " extra"),
        (3, "extra " + LONG + " extra"),
        (4, None),  # NULL text: no shingles
        (5, "two words"),  # shorter than a 3-word shingle
        (6, ""),
        (None, LONG),  # NULL id: counted in its buckets, never paired
        (7, OTHER),
        (8, OTHER + " again"),
    ]
    fast, dist, calls = _clusters_both_regimes(monkeypatch, force_distributed, _docs(spark, rows))
    assert calls[0][1] is not None
    assert fast == dist
    assert fast[(None, None, None)] == 1
    assert {(i, c) for (i, c, _) in fast if i in (2, 3, 8)} == {(2, 1), (3, 1), (8, 7)}
    assert {(i, c) for (i, c, _) in fast if i in (4, 5, 6)} == {(4, 4), (5, 5), (6, 6)}


def test_near_dup_clusters_string_ids_stay_distributed(spark, monkeypatch, force_distributed):
    rows = [("a", LONG), ("b", LONG + " extra"), ("c", OTHER)]
    fast, dist, calls = _clusters_both_regimes(
        monkeypatch, force_distributed, _docs(spark, rows, "string")
    )
    assert calls == []  # the driver regime is never tried
    assert fast == dist
    assert fast[("b", "a", False)] == 1


def _kcore_both_regimes(spark, sf_dir, monkeypatch, force_distributed):
    calls = _spy(monkeypatch, G, "_kcore_prune")
    fast = graph_kcore(spark, sf_dir).collect()
    force_distributed()
    dist = graph_kcore(spark, sf_dir).collect()
    return [tuple(r) for r in fast], [tuple(r) for r in dist], calls


def test_graph_kcore_regimes_on_fixture(spark, sf_dir, monkeypatch, force_distributed):
    fast, dist, calls = _kcore_both_regimes(spark, sf_dir, monkeypatch, force_distributed)
    assert len(calls) == 1  # driver regime in the default run only
    assert fast == dist
    assert fast[0][0] > 0


def test_graph_kcore_regimes_prune_to_nothing(spark, tmp_path, monkeypatch, force_distributed):
    # 40 orders of 4 parts each: the sampled co-occurrence graph has
    # edges, but every degree is far below 6, so the 6-core is empty
    orders = [o for o in range(40) for _ in range(4)]
    parts = [(o * 3 + j) % 50 for o in range(40) for j in range(4)]
    pq.write_table(
        pa.table({"l_orderkey": orders, "l_partkey": parts}),
        str(tmp_path / "lineitem.parquet"),
    )
    fast, dist, calls = _kcore_both_regimes(spark, str(tmp_path), monkeypatch, force_distributed)
    (src_in, _, _, _), (src_out, _) = calls[0]
    assert len(calls) == 1 and len(src_in) > 0 and len(src_out) == 0
    assert fast == dist == [(0, 0, 0, 0)]


# ids past 2**53, where float64 cannot tell neighbours apart
A, B, C = 2**53 + 1, 2**53 + 3, 2**53 + 5


def test_64_bit_ids_survive_both_regimes(spark, monkeypatch, force_distributed):
    """Ids near 2**53 beside a NULL endpoint: every driver kernel reads
    them exactly, so each gives the distributed regime's rows, and those
    rows hold only input ids."""
    edges = spark.createDataFrame(
        [(A, B), (B, C), (C, A), (None, C)], "src long, dst long"
    )
    sym = edges.union(edges.selectExpr("dst as src", "src as dst"))
    triangle = edges.filter("src IS NOT NULL")
    vecs = spark.createDataFrame(
        [(A, [1.0, 0.0]), (B, [0.0, 1.0]), (C, [1.0, 0.001]), (None, [1.0, 0.0])],
        "id long, v array<double>",
    )

    def rows(df):
        return Counter(tuple(r) for r in df.collect())

    def run():
        return {
            "cc": rows(G.connected_components(edges)),
            "core": rows(G.kcore(sym, k=2, rounds=4)),
            "pr": rows(G.pagerank_int(triangle, iterations=3)),
            "pr_null": rows(G.pagerank_int(edges, iterations=3)),
            "dedup": rows(D.dedup_embedding_cosine(vecs, "id", "v", 0.99).select("id")),
        }

    cc_calls = _spy(monkeypatch, G, "_components_df")
    core_calls = _spy(monkeypatch, G, "_kcore_prune")
    fast = run()
    cand = D._cosine_candidates_driver(vecs, "id", "v", 0.99)
    assert len(cc_calls) == 1 and len(core_calls) == 1  # driver regime taken
    force_distributed()
    dist = run()
    assert D._cosine_candidates_driver(vecs, "id", "v", 0.99) is None

    assert fast == dist
    assert fast["cc"] == Counter({(A, A): 1, (B, A): 1, (C, A): 1})
    assert set(fast["core"]) == {(A, B), (B, C), (C, A), (B, A), (C, B), (A, C)}
    assert {n for n, _ in fast["pr"]} == {A, B, C}
    assert {n for n, _ in fast["pr_null"]} == {A, B, C, None}
    assert [tuple(r) for r in cand.collect()] == [(A, C)]
    assert fast["dedup"] == Counter([(A,), (B,), (None,)])  # C duplicates A


def test_graph_kcore_probes_once_above_the_cap(
    spark, sf_dir, monkeypatch, force_distributed, count_jobs
):
    """Above the cap, graph_kcore's own probe is the only one: the
    distributed rounds run without graph.kcore probing the edges again."""
    # driver regime; also leaves the table's one-time load jobs behind
    fast = graph_kcore(spark, sf_dir).collect()
    force_distributed()
    no_probe, n0 = count_jobs(lambda: graph_kcore(spark, sf_dir).collect())
    monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 1)
    one_probe, n1 = count_jobs(lambda: graph_kcore(spark, sf_dir).collect())
    assert one_probe == no_probe == fast
    assert n1 == n0 + 1, (n0, n1)


def test_descendants_regimes_and_driver_jobs(spark, monkeypatch, force_distributed, count_jobs):
    """Every path emits (duplicate edges twice), a NULL node is emitted
    and never expands, ids past 2**53 stay exact; the driver regime is
    the probe plus the roots collect."""
    edges = spark.createDataFrame(
        [(A, B), (A, B), (B, C), (C, None), (None, A)], "src long, dst long"
    )
    roots = spark.createDataFrame([(A,), (None,)], "id long")

    def rows():
        return Counter(tuple(r) for r in G.descendants(edges, roots, max_depth=6).collect())

    fast, jobs = count_jobs(rows)
    force_distributed()
    dist = rows()
    assert fast == dist == Counter(
        {(A, A, 0): 1, (None, None, 0): 1, (A, B, 1): 2, (A, C, 2): 2, (A, None, 3): 2}
    )
    assert jobs == 2
