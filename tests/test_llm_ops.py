"""Quality gates for the approximate LLM-pipeline operators: measured
recall/precision against exact ground truth (DuckDB-computed) at sf0.001.
Everything is seeded/deterministic, so the floors are stable."""

from __future__ import annotations

from pyspark.sql import functions as F

from delta_unity_duckdb_spark.operators import dedup as D
from delta_unity_duckdb_spark.operators import similarity as S
from delta_unity_duckdb_spark.sources.tables import load_table


def test_minhash_recall_and_exact_pairs(spark, sf_dir):
    """Recall measured in the SAME feature space minhash sketches (3-gram
    shingle sets), with exact pairwise Jaccard as ground truth."""
    d = load_table(spark, sf_dir, "documents")
    cand = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_near_dups(
            d, "doc_id", "text", num_perm=32, bands=8
        ).collect()
    }
    assert cand, "no candidate pairs"
    sh = d.select(
        "doc_id", F.array_distinct(D._shingles(F.col("text"))).alias("ts")
    )
    a, b = sh.alias("a"), sh.alias("b")
    truth = {
        (r["id_a"], r["id_b"]): r["j"]
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (
                F.size(F.array_intersect("a.ts", "b.ts")).cast("double")
                / F.size(F.array_union("a.ts", "b.ts"))
            ).alias("j"),
        )
        .filter(F.col("j") >= 0.85)
        .collect()
    }
    assert truth, "fixture has no shingle-space near-dups"
    # identical shingle sets → identical signatures → must always collide
    identical = {p for p, j in truth.items() if j == 1.0}
    assert identical <= cand, f"missed {len(identical - cand)} exact-set pairs"
    recall = sum(1 for p in truth if p in cand) / len(truth)
    assert recall >= 0.9, f"minhash recall@0.85 = {recall:.3f}"


def test_simhash_finds_identical_sets(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    cand = {
        (r["id_a"], r["id_b"])
        for r in D.simhash_near_dups(d, "doc_id", "text").collect()
    }
    assert cand, "no simhash pairs"
    # simhash of an identical token multiset is identical → hamming 0
    identical_text = {
        (r["a"], r["b"])
        for r in d.alias("x")
        .join(d.alias("y"), F.col("x.text") == F.col("y.text"))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .collect()
    }
    assert identical_text <= cand


def test_lsh_pairs_precision(spark, sf_dir):
    """Every emitted pair passed the exact-cosine verify step — precision
    is 1.0 by construction; assert it holds end-to-end."""
    e = load_table(spark, sf_dir, "embeddings")
    pairs = S.cosine_pairs_lsh(e, threshold=0.35, num_planes=24, bands=6)
    rows = pairs.collect()
    assert rows, "no LSH pairs at threshold 0.35"
    assert all(r["cosine_sim"] >= 0.35 for r in rows)


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    base = e.filter(F.col("vec_id") != 0)
    exact = {r["vec_id"] for r in S.cosine_topk(base, q, k=10).collect()}
    approx = {r["vec_id"] for r in S.ivf_topk(base, q, k=10, nlist=16, nprobe=4).collect()}
    assert len(approx) == 10
    # nprobe/nlist = 1/4 of partitions scanned; seeded fixture recall is
    # stable — require at least 3/10 overlap (measured: higher)
    assert len(exact & approx) >= 3, f"IVF recall {len(exact & approx)}/10"


def test_ivf_kernel_matches_expression_path(spark, sf_dir):
    """Round-10 regime split: ivf_topk's Arrow-kernel path must be
    VALUE-identical to the expression form — fixture corpus plus
    degenerate vectors (NULL vector, NULL element, ragged length), which
    exercise the NULL-cdist assignment (NULLS FIRST → cid 1) and NULL
    score emission."""
    from pyspark.sql import Row

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    base = e.filter(F.col("vec_id") != 0)
    dim = len(e.first()["embedding"])
    weird = spark.createDataFrame(
        [
            Row(vec_id=900001, embedding=None),
            Row(vec_id=900002, embedding=[1.0] * (dim - 3)),
            Row(vec_id=900003, embedding=[None] + [0.5] * (dim - 1)),
        ],
        base.select("vec_id", "embedding").schema,
    )
    corpus = base.select("vec_id", "embedding").unionByName(weird)

    def rows(df):
        return [(r["vec_id"], r["cosine_sim"]) for r in df.collect()]

    got = rows(S.ivf_topk(corpus, q, k=10, nlist=16, nprobe=4))
    ref = rows(S._ivf_topk_expr(corpus, q, 10, 16, 4, "vec_id", "embedding"))
    assert got == ref
    # k larger than the probed partitions' clean rows → the NULL-score
    # degenerates become reachable; both paths must still agree
    big_k = corpus.count()
    got_all = rows(S.ivf_topk(corpus, q, k=big_k, nlist=16, nprobe=16))
    ref_all = rows(
        S._ivf_topk_expr(corpus, q, big_k, 16, 16, "vec_id", "embedding")
    )
    assert got_all == ref_all
    assert any(s is None for _, s in got_all)  # degenerates actually emitted


def test_ivf_kernel_does_not_assume_centroid_row_order(spark, sf_dir, monkeypatch):
    """The kernel maps centroid rows to cids by sorting on ``cid``, not by
    trusting the order ``collect()`` happens to return. With the rows
    reversed, a label-by-position kernel still probes the same partitions
    for clean vectors, but it puts a NULL vector (assigned to cid 1) into
    the partition of cid 16: at nprobe 8 on this fixture one of the two is
    probed and the other is not, so the NULL-score row comes and goes."""
    from pyspark.sql import Row

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    base = e.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    corpus = base.unionByName(
        spark.createDataFrame([Row(vec_id=900001, embedding=None)], base.schema)
    )
    k = corpus.count()
    ref = S._ivf_topk_expr(corpus, q, k, 16, 8, "vec_id", "embedding").collect()
    centroids = S._ivf_centroids
    monkeypatch.setattr(
        S, "_ivf_centroids", lambda *a: centroids(*a).orderBy(F.desc("cid"))
    )
    assert S._ivf_centroids(corpus, 16, "vec_id", "embedding").first()["cid"] == 16
    assert S.ivf_topk(corpus, q, k=k, nlist=16, nprobe=8).collect() == ref


def test_near_dup_clusters_transitive_single_survivor(spark):
    from delta_unity_duckdb_spark.operators.dedup import near_dup_clusters

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away home "
        "while the sun sets slowly behind distant mountains in golden light"
    )
    rows = [
        (1, base),
        (2, base + " extra"),          # ~dup of 1
        (3, base + " extra tail"),     # ~dup of 2 (chain A~B~C)
        (10, "completely different text about database engines and columnar "
             "storage formats with vectorized execution and query planning"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: (r.cluster, r.is_survivor) for r in
           near_dup_clusters(df, "doc_id", "text", num_perm=64, bands=16).collect()}
    # the chain 1~2~3 collapses into ONE cluster with survivor 1
    assert out[1] == (1, True)
    assert out[2][0] == 1 and out[2][1] is False
    assert out[3][0] == 1 and out[3][1] is False
    # unrelated doc is its own singleton survivor
    assert out[10] == (10, True)
    # exactly one survivor per cluster
    from collections import Counter
    surv = Counter(c for c, s in out.values() if s)
    assert all(v == 1 for v in surv.values())


def test_incremental_ingest_detects_every_recrawl(spark, sf_dir):
    """Byte-identical re-crawled texts have identical MinHash signatures,
    so every band collides: each increment doc must be flagged with its
    own original as (one of) its duplicates — dup_of <= new_id - 500000
    (a lower-id near-dup may win MIN, never a miss)."""
    from delta_unity_duckdb_spark.workload.llm import incremental_near_dup_ingest

    rows = incremental_near_dup_ingest(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["is_dup"], f"re-crawl {r['new_id']} not detected"
        assert r["dup_of"] <= r["new_id"] - 500000


def test_dedup_pipeline_exact_first_collapses_verbatim_cliques(spark, sf_dir):
    """The exact-first pipeline must (a) eliminate every injected
    verbatim copy — a pair touching an id >= 1e10 proves the exact
    stage failed — and (b) recover exactly the near-dup pairs of the
    base corpus (at this SF the originals are distinct, so survivors ==
    originals and the pair set equals minhash over the originals)."""
    from delta_unity_duckdb_spark.operators import dedup as D
    from delta_unity_duckdb_spark.sources.tables import load_table
    from delta_unity_duckdb_spark.workload.llm import dedup_pipeline_exact_first

    got = {
        (r["id_a"], r["id_b"])
        for r in dedup_pipeline_exact_first(spark, sf_dir).collect()
    }
    assert all(a < 10_000_000_000 and b < 10_000_000_000 for a, b in got)
    d = load_table(spark, sf_dir, "documents")
    want = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_near_dups(
            d, "doc_id", "text", num_perm=32, bands=8
        ).collect()
    }
    assert got == want and len(got) > 0


def test_sequence_packing_conserves_tokens_and_orders_bins(spark, sf_dir):
    """Packing must conserve the corpus token count exactly (every doc in
    exactly one bin) and fill bins in contiguous order: within a
    language, bin b+1's first_doc follows bin b's last_doc."""
    from pyspark.sql import functions as F

    from delta_unity_duckdb_spark.sources.tables import load_table
    from delta_unity_duckdb_spark.workload.llm import sequence_packing

    rows = sequence_packing(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    total = d.select(
        F.sum(F.size(F.filter(F.split("text", " "), lambda w: w != "")))
    ).collect()[0][0]
    assert sum(r["n_tokens"] for r in rows) == total
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, bins in by_lang.items():
        bins.sort(key=lambda r: r["bin"])
        for prev, nxt in zip(bins, bins[1:]):
            assert prev["last_doc"] < nxt["first_doc"], lang


def test_shard_manifest_routes_every_doc_once(spark, sf_dir):
    """16 shards, every doc in exactly one; endpoints are real doc ids."""
    from delta_unity_duckdb_spark.sources.tables import load_table
    from delta_unity_duckdb_spark.workload.llm import shard_manifest

    rows = shard_manifest(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    n = d.count()
    assert sum(r["n_docs"] for r in rows) == n
    assert len(rows) == 16
    ids = {r["doc_id"] for r in d.select("doc_id").collect()}
    for r in rows:
        assert r["head_doc"] in ids and r["tail_doc"] in ids


def test_signal_agreement_margins_match_pair_sets(spark, sf_dir):
    """The agreement table's margins must equal the two underlying pair
    sets' sizes exactly (n_both + n_text_only = |minhash pairs|, etc.)."""
    from delta_unity_duckdb_spark.operators import similarity as S
    from delta_unity_duckdb_spark.sources.tables import load_table
    from delta_unity_duckdb_spark.workload.llm import dedup_signal_agreement

    r = dedup_signal_agreement(spark, sf_dir).collect()[0]
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    docs = d.join(
        e.selectExpr("vec_id as doc_id"), "doc_id"
    ).select("doc_id", "text")
    n_text = D.minhash_near_dups(
        docs, "doc_id", "text", num_perm=32, bands=8
    ).count()
    n_sem = S.cosine_pairs_lsh(e, threshold=0.35, num_planes=24, bands=6).count()
    assert r["n_both"] + r["n_text_only"] == n_text
    assert r["n_both"] + r["n_semantic_only"] == n_sem
