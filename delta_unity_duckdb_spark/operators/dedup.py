"""Deduplication operators for training-data pipelines (SURVEY.md §2-E).

- ``dedup_exact``: exact duplicate removal with a deterministic survivor
  (window row_number, not ``dropDuplicates`` whose survivor is
  partition-order-dependent — unacceptable for reproducible 100 TB runs).
- ``minhash_near_dups``: MinHash + LSH banding near-duplicate pairs, pure
  DataFrame ops (shingle → hash → min-per-permutation → band → bucket join)
  — no cross join; candidate generation is an equi-join on (band, signature).
- ``simhash_near_dups``: 64-bit SimHash fingerprint + banded equality join.
- ``ngram_jaccard``: exact n-gram Jaccard over candidate pairs.

Scale posture: every step is a keyed shuffle or map-side transform; the
only join keys are LSH buckets, so the candidate set stays near-linear for
natural corpora. Skewed buckets (boilerplate shingles) are handled by AQE
skew-join plus the ``max_bucket_size`` guard that drops degenerate buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from delta_unity_duckdb_spark.functions.frames import (
    CKPT_DESER,
    collect_if_small,
    list_matrix,
    local_rows_df,
)

# Large primes for the universal-hash family h_i(x) = (a_i*x + b_i) mod p.
_MERSENNE_P = (1 << 61) - 1


def minhash_perms(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """The (a, b) universal-hash coefficients — exposed so the DuckDB
    oracle SQL embeds the SAME constants the Spark operator uses."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 31), rng.randrange(0, 1 << 31))
        for _ in range(num_perm)
    ]


def shingles_sql(table: str, id_expr: str, text_expr: str, n: int) -> str:
    """DuckDB twin of ``_shingles`` + ``array_distinct``: word n-grams of
    the whitespace-split lowercased text (same spelled-out split class —
    RE2's ``\\s`` omits ``\\x0B`` while Java's includes it — same joiner,
    no empty-word filtering — byte-identical shingle strings)."""
    from delta_unity_duckdb_spark.operators.text import TOKEN_SPLIT_RE

    return f"""
    SELECT {id_expr} AS id,
           list_distinct(list_transform(
               range(1, len(words) - {n} + 2),
               i -> array_to_string(list_slice(words, i, i + {n - 1}), ' '))) AS shingles
    FROM (SELECT {id_expr}, string_split_regex(lower({text_expr}), '{TOKEN_SPLIT_RE}') AS words
          FROM {table})
    """


def minhash_banded_sql(
    table: str = "documents",
    id_expr: str = "doc_id",
    text_expr: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> str:
    """DuckDB twin of ``minhash_band_buckets`` for one table: a SELECT
    yielding (id, band, sigstr) with sigstr equality ⇔ band-bucket
    equality (the Spark side hashes the same slice with xxhash64; the
    oracle compares the slice itself, so the two agree up to 64-bit hash
    collisions — the same tolerance every minhash oracle here has).
    Compose two of these to mirror cross-table (increment vs corpus)
    candidate joins."""
    from delta_unity_duckdb_spark.functions.hashing import hash31_sql

    rpb = num_perm // bands
    perms = minhash_perms(num_perm, seed)
    min_exprs = ",\n             ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {_MERSENNE_P}))"
        for a, b in perms
    )
    return f"""
      SELECT id, band,
             array_to_string(list_slice(mh, band * {rpb} + 1, (band + 1) * {rpb}), ',') AS sigstr
      FROM (
        SELECT id, [{min_exprs}] AS mh
        FROM (
          SELECT id, list_transform(shingles, s -> {hash31_sql('s')}) AS hs
          FROM ({shingles_sql(table, id_expr, text_expr, shingle_n)})
          WHERE len(shingles) > 0))
      CROSS JOIN (SELECT UNNEST(range({bands})) AS band) b
    """


def minhash_pairs_sql(
    table: str = "documents",
    id_expr: str = "doc_id",
    text_expr: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    max_bucket_size: int = 1000,
) -> str:
    """DuckDB oracle producing the IDENTICAL candidate pairs as
    ``minhash_near_dups`` (same shingles, same portable md5 hash, same
    universal-hash constants, same banding, and — since round 3 — the
    SAME ``max_bucket_size`` census guard, so a degenerate boilerplate
    bucket is dropped by both engines, not just the Spark side) — select
    from it with ORDER BY/LIMIT to mirror a workload query."""
    banded = minhash_banded_sql(
        table, id_expr, text_expr, num_perm, bands, shingle_n, seed
    )
    return f"""
    WITH banded AS ({banded}),
    small_buckets AS (
      SELECT band, sigstr FROM banded GROUP BY band, sigstr
      HAVING COUNT(*) <= {max_bucket_size}),
    kept AS (
      SELECT b.id, b.band, b.sigstr FROM banded b
      JOIN small_buckets s ON b.band = s.band AND b.sigstr = s.sigstr)
    SELECT DISTINCT x.id AS id_a, y.id AS id_b
    FROM kept x JOIN kept y
      ON x.band = y.band AND x.sigstr = y.sigstr AND x.id < y.id
    """


def simhash_pairs_sql(
    table: str = "documents",
    id_expr: str = "doc_id",
    text_expr: str = "text",
    bands: int = 4,
    shingle_n: int = 2,
) -> str:
    """DuckDB oracle twin of ``simhash_near_dups``: per-shingle md5 hash
    split into (hi, lo) 32-bit words, per-bit majority vote, 16-bit band
    chunks, banded equality join."""
    from delta_unity_duckdb_spark.functions.hashing import hash32_words_sql

    bits = 64 // bands
    hi, lo = hash32_words_sql("s")
    return f"""
    WITH sh AS ({shingles_sql(table, id_expr, text_expr, shingle_n)}),
    shx AS (
      SELECT id, UNNEST(shingles) AS s FROM sh WHERE len(shingles) > 0),
    hw AS (
      SELECT id, {hi} AS hi, {lo} AS lo FROM shx),
    votes AS (
      SELECT id, bit,
             SUM(((CASE WHEN bit < 32 THEN lo >> bit
                        ELSE hi >> (bit - 32) END) & 1)) AS v,
             COUNT(*) AS n
      FROM hw CROSS JOIN (SELECT UNNEST(range(64)) AS bit) b
      GROUP BY id, bit),
    bits AS (
      SELECT id, bit, CASE WHEN v * 2 > n THEN 1 ELSE 0 END AS bitv
      FROM votes),
    chunks AS (
      SELECT id, bit // {bits} AS band,
             CAST(SUM(bitv * (CAST(1 AS BIGINT) << CAST(bit % {bits} AS INTEGER))) AS BIGINT) AS chunk
      FROM bits GROUP BY id, bit // {bits})
    SELECT DISTINCT x.id AS id_a, y.id AS id_b
    FROM chunks x JOIN chunks y
      ON x.band = y.band AND x.chunk = y.chunk AND x.id < y.id
    """


def dedup_exact(
    df: DataFrame, cols: list[str], order_col: str
) -> DataFrame:
    """Keep one deterministic survivor per duplicate group (first by
    ``order_col``). E1 — exact hash-groupBy dedup."""
    w = Window.partitionBy(*cols).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _shingles(text_col, n: int = 3):
    """Word n-gram shingles as an array column (JVM-side, no UDF).

    PERF NOTE: prefer ``shingle_rows`` (or ``_shingles_of_words`` over a
    pre-materialized words column) whenever the shingles feed a Generate
    (explode/posexplode). Inlining the split into a generator or lambda
    makes the regex split re-evaluate per ELEMENT — O(tokens²) per doc,
    measured 7-13× slower at sf0.1 — because subexpression elimination
    does not reach inside GenerateExec / higher-order-function lambdas.
    """
    from delta_unity_duckdb_spark.operators.text import TOKEN_SPLIT_RE

    words = F.split(F.lower(text_col), TOKEN_SPLIT_RE)
    return _shingles_of_words(words, n)


def _shingles_of_words(words, n: int):
    """Shingle array from an (ideally column-materialized) words array:
    shingle i = words[i..i+n-1] joined by a single space.

    Null contract: NULL words (i.e. NULL text) -> NULL shingles, so
    non-exploded consumers (``F.size``/set ops in the minhash + jaccard
    paths) see null rows, not spurious empty docs; short-but-present
    text -> empty array."""
    return (
        F.when(words.isNull(), F.lit(None).cast("array<string>"))
        .when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - n + 1),
                lambda i: F.concat_ws(" ", F.slice(words, i, n)),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
    )


def shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    distinct: bool = True,
) -> DataFrame:
    """(id, s) exploded shingle rows via a pre-split words projection —
    the fast path for every explode-the-shingles consumer (see the perf
    note on ``_shingles``). The split runs exactly once per document."""
    from delta_unity_duckdb_spark.operators.text import TOKEN_SPLIT_RE

    words = F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE)
    dw = df.select(F.col(id_col).alias("id"), words.alias("_w"))
    sh = _shingles_of_words(F.col("_w"), n)
    if distinct:
        sh = F.array_distinct(sh)
    return dw.select("id", F.explode(sh).alias("s"))


def minhash_signatures_wide(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, mh_0 .. mh_{num_perm-1}) — one row per document, one column per
    permutation.

    Shape: explode distinct shingles → ONE portable md5 hash per shingle →
    ONE groupBy(id) computing all num_perm universal-hash MINs as plain
    aggregates. The min aggregates partially combine map-side, so the
    shuffle carries ~one wide row per document per input partition — not
    the shingle stream. This halves the runtime of the earlier
    all-array-expression form (num_perm ``F.transform``/``array_min``
    walks re-traversed the shingle array once per permutation, allocating
    an intermediate array each time); per-row aggregate MINs are tight
    codegen loops. Same trick as ``simhash_fingerprints``.

    Shingles are hashed JVM-side with the md5-derived portable hash
    (functions/hashing.py) so signatures — and therefore candidate pairs —
    are engine-reproducible (the DuckDB oracle computes the identical
    signatures). Docs with zero shingles vanish at the explode, matching
    the oracle's ``len(shingles) > 0`` filter.
    """
    from delta_unity_duckdb_spark.functions.hashing import hash31

    # 31-bit hash inputs and coefficients keep a*h + b < 2^62 — no long
    # overflow under ANSI arithmetic, at any scale.
    perms = minhash_perms(num_perm, seed)

    sh = shingle_rows(df, id_col, text_col, shingle_n, distinct=True)
    hashed = sh.select("id", hash31(F.col("s")).alias("h"))
    return hashed.groupBy("id").agg(
        *[
            F.min((F.col("h") * a + b) % F.lit(_MERSENNE_P)).alias(f"mh_{i}")
            for i, (a, b) in enumerate(perms)
        ]
    )


def minhash_band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, band, bucket) — the LSH index rows: per document, one bucket
    hash per band, read straight out of the WIDE signature row (xxhash64
    over the band's signature slice). A narrow map with zero shuffles;
    two documents are band-collision candidates iff they share a (band,
    bucket) row. This is the frame a 100 TB pipeline PERSISTS as its
    near-dup index: an increment is deduped against the corpus by
    joining its bucket rows against the stored ones — never by
    re-pairing the corpus with itself."""
    rows_per_band = num_perm // bands
    wide = minhash_signatures_wide(df, id_col, text_col, num_perm, shingle_n, seed)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.lit(b),
                    *[
                        F.col(f"mh_{i}")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return wide.select("id", F.explode(band_structs).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_band_buckets_map(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """STATELESS twin of ``minhash_band_buckets``: signatures via
    per-row ``F.transform``/``array_min`` folds instead of the
    explode+groupBy aggregate — a pure narrow map with no shuffle and no
    state, producing the IDENTICAL (id, band, bucket) rows. This is the
    form a Structured Streaming pipeline must use: the groupBy form is a
    stateful aggregation, and chaining it before the index join and the
    verdict aggregation would exceed streaming's stateful-operator
    nesting. Batch callers prefer ``minhash_band_buckets`` (the
    aggregate form measured ~2× faster on wide batches)."""
    from delta_unity_duckdb_spark.functions.hashing import hash31

    perms = minhash_perms(num_perm, seed)
    rows_per_band = num_perm // bands
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(_shingles(F.col(text_col), shingle_n)).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    hashed = sh.select(
        "id", F.transform("shingles", lambda s: hash31(s)).alias("hs")
    )
    sig_cols = [
        F.array_min(
            F.transform("hs", lambda h: (h * a + b) % F.lit(_MERSENNE_P))
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(perms)
    ]
    wide = hashed.select("id", *sig_cols)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.lit(b),
                    *[
                        F.col(f"mh_{i}")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return wide.select("id", F.explode(band_structs).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via LSH banding.

    rows/band = num_perm/bands; two docs collide if any band's full
    signature slice matches. Bucket join replaces the quadratic cross join;
    ``max_bucket_size`` drops degenerate buckets (boilerplate) that would
    otherwise explode quadratically — dropped buckets are reported by the
    caller via counts, never silently at scale.

    Banding reads the band slices straight out of the WIDE signature row
    (xxhash64 over the slice columns) — a narrow map, so candidate
    generation costs zero shuffles before the bucket equi-join itself.
    The earlier long-form layout (explode to num_perm rows → groupBy(id,
    band) collect_list) paid a full shuffle of num_perm × N rows just to
    reassemble slices that were already adjacent in the wide row.

    Two steps, shared with ``near_dup_clusters``: the eagerly
    checkpointed band index (``_band_index``), then the distributed
    pairing (``_pairs_from_bands``). This function always pairs in Spark,
    since its result is the pair frame itself; ``near_dup_clusters``
    pairs on the driver instead when the band index and its pair count
    both fit ``graph.SMALL_GRAPH_EDGES``.
    """
    return _pairs_from_bands(
        _band_index(
            df, id_col, text_col,
            num_perm=num_perm, bands=bands, shingle_n=shingle_n, seed=seed,
        ),
        max_bucket_size,
    )


def _band_index(df: DataFrame, id_col: str, text_col: str, **band_args) -> DataFrame:
    """``minhash_band_buckets``, eagerly checkpointed.

    The (id, band, bucket) rows have THREE consumers in the distributed
    pairing (bucket-size census + both sides of the self-join) and one
    bounded probe in ``near_dup_clusters``' driver regime. Materialize
    them once: without this, each consumer re-runs the full signature
    map (md5 over every shingle). At cluster scale this is a checkpoint
    of bands × N small rows — linear, spillable."""
    return minhash_band_buckets(df, id_col, text_col, **band_args).localCheckpoint(
        eager=True, storageLevel=CKPT_DESER
    )


def _pairs_from_bands(banded: DataFrame, max_bucket_size: int) -> DataFrame:
    """Distributed LSH pairing over a band index: bucket census, drop
    buckets above ``max_bucket_size``, self-join on (band, bucket) with
    ``id_a < id_b``, distinct."""
    bucket_sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("sz"))
    small = bucket_sizes.filter(F.col("sz") <= max_bucket_size).select("band", "bucket")
    b = banded.join(small, ["band", "bucket"])
    a1, a2 = b.alias("x"), b.alias("y")
    return (
        a1.join(
            a2,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def _driver_pairs(banded: DataFrame, max_bucket_size: int, cap: int):
    """``_pairs_from_bands`` on the driver, from one bounded Arrow collect
    of the band index. Returns the distinct (id_a, id_b) int64 arrays, or
    ``None`` when the band rows or the pairs they would produce exceed
    ``cap``. The pair count is Σ sz·(sz−1)/2 over the kept buckets, taken
    from the census before any pair is built, so a corpus of large
    buckets cannot blow up driver memory. Integral ids only."""
    import numpy as np

    t = collect_if_small(banded, cap)
    if t is None:
        return None
    band = t.column("band").to_numpy()
    bucket = t.column("bucket").to_numpy()
    null = t.column("id").is_null().to_numpy()
    ids = t.column("id").fill_null(0).to_numpy().astype(np.int64)
    order = np.lexsort((ids, bucket, band))
    band, bucket, ids, null = band[order], bucket[order], ids[order], null[order]
    # census: rows per (band, bucket); NULL ids count, as in Spark's groupBy
    first = np.ones(len(ids), dtype=bool)
    first[1:] = (band[1:] != band[:-1]) | (bucket[1:] != bucket[:-1])
    sizes = np.diff(np.append(np.flatnonzero(first), len(ids)))
    kept = sizes <= max_bucket_size
    if int((sizes[kept] * (sizes[kept] - 1) // 2).sum()) > cap:
        return None
    # NULL ids never pair (``x.id < y.id`` is never true for them)
    rows = np.repeat(kept, sizes) & ~null
    group = np.repeat(np.arange(len(sizes)), sizes)[rows]
    ids = ids[rows]
    # self-match: each row against every later row of its bucket (rows
    # are id-sorted within a bucket, so the later id is never smaller)
    pos = np.arange(len(ids))
    later = np.searchsorted(group, group, side="right") - pos - 1
    left = np.repeat(pos, later)
    right = left + 1 + np.arange(len(left)) - np.repeat(np.cumsum(later) - later, later)
    a, b = ids[left], ids[right]
    strict = a < b
    pairs = np.unique(np.stack([a[strict], b[strict]], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 2
) -> DataFrame:
    """(id, fp): 64-bit SimHash of word n-grams from the portable md5 hash
    (two 32-bit words — functions/hashing.py — so the fingerprint is
    engine-reproducible; the DuckDB twin is ``simhash_pairs_sql``).

    Shape: explode shingles → ONE groupBy(id) computing the 64 bit-vote
    counts as 16 LANE-PACKED sums (round 9; previously 64 single-bit
    SUM aggregates — the aggregate-update loop was ~1.2 s of the
    query's 2.9 s at sf0.1). Each packed long carries four 16-bit
    counters for bits (i, i+16, i+32, i+48): per input row,
    ``(lo >> i) & 0x10001`` deposits bits i and i+16 into lanes 0 and 16
    in ONE shift+mask, and the hi word's pair lands in lanes 32/48 —
    two's-complement addition is bitwise-exact, so the SUM accumulates
    all four counters at once with no cross-lane carry while every
    counter stays ≤ 65535. Counts are decoded with unsigned shifts and
    the majority votes are IDENTICAL to the per-bit form (asserted by
    the oracle twin, which computes per-bit votes). A document with more
    than 65535 distinct shingles would overflow a lane — impossible for
    the ≤ 2¹⁶-token docs this engine tokenizes, and guarded LOUDLY
    (raise_error rides the final projection, same posture as fx_sums'
    bounds). Map-side partial agg, one shuffle, whole-stage codegen;
    the shuffle row shrinks from 66 to 18 longs. The earlier
    formulation — 64 ``F.aggregate`` folds over a struct array —
    re-walked the array 64× per row and was ~50× slower still.
    """
    from delta_unity_duckdb_spark.functions.hashing import hash32_words

    sh = shingle_rows(df, id_col, text_col, shingle_n, distinct=True)
    hi, lo = hash32_words(F.col("s"))
    hw = sh.select("id", hi.alias("hi"), lo.alias("lo"))
    PAIR = F.lit((1 << 16) | 1)  # picks up bits i and i+16 together
    votes = hw.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.shiftright(F.col("lo"), i).bitwiseAND(PAIR)
                + F.shiftleft(
                    F.shiftright(F.col("hi"), i).bitwiseAND(PAIR), 32
                )
            ).alias(f"s{i}")
            for i in range(16)
        ],
    )
    MASK = F.lit(0xFFFF)

    def vote(bit: int):
        lane, word = bit % 16, (bit // 16) * 16
        return F.shiftrightunsigned(F.col(f"s{lane}"), word).bitwiseAND(MASK)

    fp = F.when(
        F.col("n") > 0xFFFF,
        F.expr(
            "CAST(raise_error('simhash_fingerprints: >65535 distinct"
            " shingles in one document — lane counter overflow')"
            " AS BIGINT)"
        ),
    ).otherwise(F.lit(0).cast("long"))
    for bit in range(64):
        fp = fp + F.when(
            vote(bit) * 2 > F.col("n"),
            F.lit(1).cast("long") * (2**bit if bit < 63 else -(2**63)),
        ).otherwise(0)
    return votes.select("id", fp.alias("fp"))


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, bands: int = 4
) -> DataFrame:
    """Near-dup candidates where a 16-bit SimHash band matches exactly
    (Hamming-distance blocking). Equi-join on (band, chunk) — no cross join."""
    fp = simhash_fingerprints(df, id_col, text_col)
    bits = 64 // bands
    chunks = fp.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("fp", i * bits)
                        .bitwiseAND(F.lit((1 << bits) - 1))
                        .alias("chunk"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bc"),
    ).select("id", "bc.band", "bc.chunk")
    x, y = chunks.alias("x"), chunks.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact Jaccard similarity over candidate pairs (verification stage
    after LSH blocking). Joins shingle sets to the (id_a, id_b) pairs and
    computes |∩|/|∪| with array intrinsics — no UDF."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(_shingles(F.col(text_col), shingle_n)).alias("sh"),
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact (id_a < id_b) pairs with cosine similarity >= threshold.

    This is the brute-force verification kernel: an all-pairs theta join.
    Use it directly only on small / pre-blocked inputs; at scale, feed it
    the candidate pairs from ``similarity.cosine_pairs_lsh`` (random-
    hyperplane LSH blocking) instead of the full table — the blocked path
    is near-linear, this one is quadratic by construction.
    """
    from delta_unity_duckdb_spark.operators.similarity import cosine_sim

    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    sim = cosine_sim(F.col("va"), F.col("vb"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


# Driver-tile regime bound for the EXACT all-pairs cosine path (same
# decision class as graph.SMALL_GRAPH_EDGES): 100k vectors × 64 dims ×
# 8 B ≈ 51 MB — broadcast-threshold order. Above it the exact form is the
# caller's contract (quadratic by construction) and stays distributed.
EMB_DRIVER_MAX_VECTORS = 100_000

# Candidate margin for the tile kernel: BLAS dot products differ from the
# sequential-fold expression by ≤ ~1e-12 relative, and the downstream
# ROUND(sim, 4) ≥ threshold test needs 5e-5 of slack around the boundary;
# 1e-3 dominates both by orders of magnitude, so the candidate set is a
# strict superset of every pair the exact expression can accept.
_EMB_CAND_MARGIN = 1e-3


def _cosine_candidates_driver(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame | None:
    """Candidate (id_a < id_b) pairs with BLAS-approximate cosine ≥
    threshold − margin, computed driver-side over the collected vectors
    (guide §8 shape: decide with a lightweight proxy, then verify with
    the exact engine expression so the VALUES are still produced by the
    same code path the oracle mirrors). Returns None when the input
    exceeds the driver regime or its vectors are ragged — the caller
    falls back to the distributed quadratic join unchanged.

    Why: the JVM expression form evaluates the 64-term fold per pair —
    measured >120 s on 8k vectors at sf0.1 (round-9 full-registry sweep,
    DuckDB oracle 6.2 s) — while a blocked matmul over the same pairs is
    sub-second. False candidates only cost the verify join a few rows;
    false NEGATIVES cannot occur by the margin argument above.
    """
    import numpy as np

    t = collect_if_small(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        EMB_DRIVER_MAX_VECTORS,
    )
    if t is None:
        return None
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType
    from pyspark.sql import types as T

    cand_schema = T.StructType(
        [
            T.StructField("id_a", id_type, True),
            T.StructField("id_b", id_type, True),
        ]
    )
    # NULL ids never pair (id_a < id_b is NULL) and are never dropped;
    # NULL vectors never score
    t = t.drop_null()
    if t.num_rows < 2:
        return local_rows_df(spark, [], cand_schema)
    # NULL elements inside a vector become NaN, which propagates to NaN
    # similarity — never a candidate, matching the expression's
    # NULL-element → NULL → filtered semantics. Ragged dims → distributed.
    x = list_matrix(t.column("v"), np.float64)
    if x is None:
        return None
    ids = t.column("id").to_numpy()
    with np.errstate(divide="ignore", invalid="ignore"):
        norms = np.sqrt((x * x).sum(axis=1))
        cut = threshold - _EMB_CAND_MARGIN
        pairs_a, pairs_b = [], []
        step = 2048
        n = len(ids)
        for i0 in range(0, n, step):
            xi = x[i0 : i0 + step]
            ni = norms[i0 : i0 + step]
            for j0 in range(i0, n, step):
                sim = (xi @ x[j0 : j0 + step].T) / np.outer(
                    ni, norms[j0 : j0 + step]
                )
                ii, jj = np.where(sim >= cut)
                gi, gj = ii + i0, jj + j0
                keep = gi < gj
                pairs_a.append(gi[keep])
                pairs_b.append(gj[keep])
    ga = np.concatenate(pairs_a) if pairs_a else np.array([], dtype=int)
    gb = np.concatenate(pairs_b) if pairs_b else np.array([], dtype=int)
    # Orient each pair by id, not by row position: the caller drops id_b,
    # so on input not stored in id order a positional pair would drop the
    # smaller id. Equal ids never pair (the expression's id_a < id_b).
    ia, ib = ids[ga], ids[gb]
    a_first, keep = ia < ib, ia != ib
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table(
            {
                "id_a": np.where(a_first, ia, ib)[keep],
                "id_b": np.where(a_first, ib, ia)[keep],
            }
        ),
        cand_schema,
    )


def dedup_embedding_cosine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate removal (E2, embedding flavor).

    Semantics: a row is DROPPED iff some row with a smaller id is within
    ``threshold`` cosine similarity of it — the greedy smallest-id-wins
    rule (chain drops included), which is deterministic and engine-
    independent, unlike connected-component canonicalization which would
    need an iterative fixpoint.

    ``candidates``: optional pre-blocked (id_a, id_b) pair DataFrame (from
    LSH); when given, only those pairs are similarity-checked — the 100 TB
    path. When None, exact all-pairs (small inputs / oracle checks only).
    """
    if candidates is None:
        # Small-input regime: generate candidates driver-side (blocked
        # matmul, strict superset by margin) and verify below with the
        # SAME exact expression — values unchanged, quadratic JVM fold
        # avoided. None → too big / ragged → original distributed join.
        candidates = _cosine_candidates_driver(df, id_col, vec_col, threshold)
    if candidates is None:
        dups = embedding_cosine_pairs(df, id_col, vec_col, threshold)
    else:
        v = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        from delta_unity_duckdb_spark.operators.similarity import cosine_sim

        dups = (
            candidates.join(v.withColumnsRenamed({"__id": "id_a", "__v": "va"}), "id_a")
            .join(v.withColumnsRenamed({"__id": "id_b", "__v": "vb"}), "id_b")
            .select("id_a", "id_b", F.round(cosine_sim(F.col("va"), F.col("vb")), 4).alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold)
        )
    drop_ids = dups.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop_ids, id_col, "left_anti")


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Near-dup CLUSTERING: pairwise candidates alone under-remove —
    if A~B and B~C but A≁C, pair-based removal can keep two of the three.
    Cluster by connected components over the MinHash candidate graph and
    keep one survivor (min id) per component: transitive closure, exactly
    one representative per duplicate family.

    Returns (id, cluster, is_survivor). Pipeline: MinHash+LSH band index
    (eagerly checkpointed) → candidate pairs → min-id components → left
    join back from ``df``'s ids, so non-duplicate docs stay their own
    singleton cluster and a NULL id gets a NULL cluster.

    Two regimes, chosen by measured size against ``graph.SMALL_GRAPH_EDGES``
    (read at call time):
    - driver: the band index is probed with one bounded Arrow collect; if
      its rows AND its pair count (Σ sz·(sz−1)/2 over the kept buckets,
      from the census) fit the cap and the ids are integral, the pairs
      (``_driver_pairs``) and the components (``graph._components_df``)
      are computed on the driver;
    - distributed: otherwise the checkpointed band index is paired in
      Spark (``_pairs_from_bands``, the ``minhash_near_dups`` plan) and
      clustered by ``graph.connected_components``.
    Both give the same rows.
    """
    from pyspark.sql.types import IntegralType

    from delta_unity_duckdb_spark.operators import graph as G

    max_bucket_size = 1000  # minhash_near_dups' default
    banded = _band_index(df, id_col, text_col, num_perm=num_perm, bands=bands)
    cap = G.SMALL_GRAPH_EDGES
    pairs = None
    if cap > 0 and isinstance(banded.schema["id"].dataType, IntegralType):
        pairs = _driver_pairs(banded, max_bucket_size, cap)
    if pairs is not None:
        comp = G._components_df(
            df.sparkSession,
            pairs[0].tolist(),
            pairs[1].tolist(),
            banded.select(
                F.col("id").alias("node"), F.col("id").alias("component")
            ).schema,
        )
    else:
        edges = _pairs_from_bands(banded, max_bucket_size).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        comp = G.connected_components(edges)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comp, F.col("id") == comp.node, "left")
        .select(
            "id",
            F.coalesce("component", F.col("id")).alias("cluster"),
        )
        .withColumn("is_survivor", F.col("id") == F.col("cluster"))
    )


# ------------------------------------------------------------------ winnowing

# Positional tiebreak modulus for winnowing keys. Two equal shingle hashes
# can only tie INSIDE one window (w consecutive positions), so the tiebreak
# needs to order positions that are < w apart; a 2^20 wrap keeps the packed
# key inside 51 bits (31-bit hash + 20-bit position) while making the
# wrap-straddle case (two equal hashes within w positions, one just below
# the modulus and one just above) astronomically rare — and when it does
# happen both engines compute the identical formula, so cross-engine
# determinism is unaffected, only which of the two duplicates is kept.
WINNOW_POS_MOD = 1 << 20


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """MOSS-style winnowing document fingerprints (Schleimer et al.,
    SIGMOD'03): hash every word ``k``-gram, slide a window of ``w``
    consecutive hashes, keep the minimum of each window (rightmost on
    ties). Guarantees every shared run of ``k + w - 1`` tokens yields at
    least one shared fingerprint, while sampling only ~2/(w+1) of the
    hashes — localized matching (which whole-doc MinHash cannot do) at a
    fraction of the shingle volume.

    Returns (id, fp) — the distinct selected fingerprint hashes per doc.

    Scale: tokenize/shingle/hash are narrow maps; the window min is a
    per-doc sort (bounded by doc length, not corpus size); the distinct
    is one keyed shuffle on (id, fp). No self-join here — pair
    generation downstream joins on fp with a bucket-size guard, so a
    boilerplate fingerprint shared by millions of docs is dropped, not
    exploded. Hashes are md5-portable (functions/hashing.py) so the
    DuckDB twin (``winnow_fps_sql``) reproduces them bit-for-bit.
    """
    from delta_unity_duckdb_spark.functions.hashing import hash31
    from delta_unity_duckdb_spark.operators.text import TOKEN_SPLIT_RE

    B = WINNOW_POS_MOD
    # words materialized first, ONE Generate evaluating the hash array
    # once per doc — see the perf note on _shingles (projection collapse
    # otherwise re-inlines the md5 transform into every reference).
    # An array-side formulation (array_min over per-start slices, no
    # shuffle) was tried and is QUADRATIC in doc length: lambda-captured
    # arrays are re-evaluated per element — no subexpression elimination
    # reaches inside higher-order-function lambdas — so the rolling min
    # runs as a window aggregate over exploded rows instead.
    words = F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE)
    dw = df.select(F.col(id_col).alias("id"), words.alias("_w"))
    hs = F.transform(_shingles_of_words(F.col("_w"), k), hash31)
    ex = dw.select("id", F.posexplode(hs).alias("pos", "h"))
    key = F.col("h") * B + (B - 1 - F.pmod(F.col("pos"), F.lit(B)))
    # shingle count m via a whole-partition window — same single shuffle
    # the rolling min already pays, no second pass over the text
    wid = Window.partitionBy("id")
    win = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        ex.select("id", "pos", key.alias("key"))
        .withColumn("m", F.count(F.lit(1)).over(wid))
        .withColumn("wmin", F.min("key").over(win))
        # valid window starts only: pos + w - 1 <= m - 1 (short docs keep
        # the single clipped window at pos 0)
        .filter(F.col("pos") <= F.greatest(F.col("m") - w, F.lit(0)))
        .select("id", F.expr(f"wmin DIV {B}").alias("fp"))
        .distinct()
    )


def winnow_fps_sql(
    table: str = "documents",
    id_expr: str = "doc_id",
    text_expr: str = "text",
    k: int = 4,
    w: int = 4,
) -> str:
    """DuckDB twin of ``winnow_fingerprints`` — same tokens, same k-gram
    strings, same md5-portable 31-bit hash, same packed-key window min,
    so the fingerprint sets are identical across engines."""
    from delta_unity_duckdb_spark.functions.hashing import hash31_sql
    from delta_unity_duckdb_spark.operators.text import TOKEN_SPLIT_RE

    B = WINNOW_POS_MOD
    gram = f"array_to_string(list_slice(words, i, i + {k - 1}), ' ')"
    return f"""
    WITH words AS (
      SELECT {id_expr} AS id,
             string_split_regex(lower({text_expr}), '{TOKEN_SPLIT_RE}') AS words
      FROM {table}),
    sh AS (
      SELECT id,
             list_transform(range(1, len(words) - {k} + 2),
                            i -> {hash31_sql(gram)}) AS hs
      FROM words),
    ex AS (
      SELECT id, len(hs) AS m, UNNEST(hs) AS h,
             UNNEST(range(len(hs))) AS pos
      FROM sh WHERE len(hs) > 0),
    winm AS (
      SELECT id, m, pos,
             MIN(h * {B} + ({B} - 1 - (pos % {B})))
               OVER (PARTITION BY id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS wmin
      FROM ex)
    SELECT DISTINCT id, wmin // {B} AS fp
    FROM winm WHERE pos <= GREATEST(m - {w}, 0)
    """
