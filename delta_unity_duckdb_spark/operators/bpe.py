"""Distributed BPE (byte-pair-encoding) vocabulary induction — the merge
table a tokenizer-training pipeline derives from a corpus (north-star
LLM-pipeline surface, SURVEY.md §2-E5; the reference has no tokenizer
surface — its text handling stops at host-language post-processing,
delta-unity-duckdb.js:528-532).

Algorithm (classic BPE, Sennrich et al. 2016, built from the public
description): start from the corpus word-frequency table with each word
split into characters; repeatedly (a) count adjacent symbol pairs
weighted by word frequency, (b) pick the most frequent pair with a
deterministic (count DESC, lhs, rhs) tie-break, (c) merge every
left-to-right non-overlapping occurrence of that pair into one symbol.
The output is the ordered merge table — the artifact a tokenizer ships.

Scale shape (100 TB): the ONLY corpus-scale stage is the word-frequency
aggregation — one keyed shuffle with map-side combine, exactly as
``wordcount``. The iterative state is the frequency table CAPPED at the
``vocab_cap`` most frequent words (count DESC, word tie-break — the
standard practice for BPE training, which operates on a pruned word-freq
table, not the raw corpus), so every merge round is a narrow transform
plus one tiny hash-aggregate over ≤ cap rows, independent of corpus
size. The per-round argmax is a bounded scalar probe (TakeOrdered 1 —
a display-edge collect, not a data collect). localCheckpoint after each
rewrite keeps the plan flat instead of nesting ``iters`` lambda folds.

Engine-exactness: symbols are restricted to ``^[a-z]+`` words (post
lowering), counts are exact BIGINTs, and the merge fold is a
deterministic left fold — so the DuckDB oracle (``bpe_merges_sql``, the
same iterations unrolled as chained CTEs with ``list_reduce``) replays
the identical merge sequence value-for-value. Both engines break
count ties with binary string order (Spark UTF8Binary ≡ DuckDB default
VARCHAR collation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from delta_unity_duckdb_spark.functions.frames import CKPT_DESER, local_rows_df

MERGE_SCHEMA = "step bigint, lhs string, rhs string, merged string, pair_count bigint"

# Driver-regime bound (same class of decision as graph.SMALL_GRAPH_EDGES
# and AQE's broadcast threshold): the merge loop's state is the CAPPED
# word-frequency table — vocab_cap rows by construction, a model-sized
# artifact independent of corpus size — so when the cap itself is at or
# below this bound the rounds run driver-side over the collected table.
# The round-9 measurement that motivates it: each distributed round costs
# two sequential driver actions (argmax collect + rewrite checkpoint) of
# pure scheduling floor, ~2.1 s for 6 rounds over a table whose arithmetic
# takes milliseconds (blind re-bench: 4.89x over the DuckDB oracle). The
# corpus-scale stage (word_frequencies' keyed shuffle) stays distributed
# in BOTH regimes.
BPE_DRIVER_MAX_VOCAB = 200_000


def _merge_rounds_driver(
    words: list[str], cnts: list[int], iters: int
) -> tuple[list[tuple[int, str, str, str, int]], list[list[str]]]:
    """The merge rounds on the collected (word, cnt) table: per round, a
    weighted adjacent-pair census, the (count DESC, lhs, rhs) argmax, and
    the greedy left-to-right non-overlapping rewrite — exactly the
    semantics of the distributed loop (``_adjacent_pairs`` census +
    ``merge_pair`` fold), which tests assert stays value-identical.
    Returns (merge records, final symbol state)."""
    syms = [list(w) for w in words]
    records: list[tuple[int, str, str, str, int]] = []
    for step in range(1, iters + 1):
        counts: dict[tuple[str, str], int] = {}
        for s, c in zip(syms, cnts):
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        (lhs, rhs), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        records.append((step, lhs, rhs, lhs + rhs, int(cnt)))
        merged = lhs + rhs
        for idx, s in enumerate(syms):
            out: list[str] = []
            for x in s:
                if out and out[-1] == lhs and x == rhs:
                    out[-1] = merged
                else:
                    out.append(x)
            syms[idx] = out
    return records, syms


def _collect_word_frequencies(
    df: DataFrame, text_col: str, vocab_cap: int
) -> tuple[list[str], list[int]]:
    """One TakeOrdered job: the capped (word, cnt) table to the driver."""
    pdf = word_frequencies(df, text_col, vocab_cap).toPandas()
    return pdf["word"].tolist(), [int(c) for c in pdf["cnt"]]


def _char_syms(word: Column) -> Column:
    """word → array of single-character symbols (ASCII by construction:
    callers filter to ^[a-z]+$ first)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)), lambda i: word.substr(i, F.lit(1))
    )


def _adjacent_pairs(syms: Column) -> Column:
    """array<string> → array<struct<l,r>> of adjacent symbol pairs."""
    return F.transform(
        F.slice(syms, 1, F.size(syms) - 1),
        lambda x, i: F.struct(x.alias("l"), F.try_element_at(syms, i + 2).alias("r")),
    )


def merge_pair(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping merge of (left, right) into
    one symbol — a left fold: append, or replace the just-appended tail
    when it completes the pair. Replicates the classic BPE scan exactly
    (after a merge the tail is the MERGED symbol, so an overlapping
    second merge of the same occurrence can't fire: 'aaa' + (a,a) →
    [aa, a], never [aa, aa])."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.try_element_at(acc, F.size(acc)) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def word_frequencies(
    df: DataFrame, text_col: str = "text", vocab_cap: int = 50_000
) -> DataFrame:
    """(word, cnt) for the ``vocab_cap`` most frequent ^[a-z]+$ words —
    the one corpus-scale stage (keyed shuffle, map-side combine), with a
    deterministic (cnt DESC, word) cap boundary."""
    from delta_unity_duckdb_spark.operators.text import tokens

    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(vocab_cap)
    )


def bpe_merge_table(
    df: DataFrame,
    text_col: str = "text",
    iters: int = 6,
    vocab_cap: int = 50_000,
) -> DataFrame:
    """Learn ``iters`` BPE merges from the corpus; returns the ordered
    merge table (step, lhs, rhs, merged, pair_count). Stops early when no
    adjacent pair remains (every word fully merged).

    Two regimes keyed on ``vocab_cap`` (known without a probe job):
    at or below ``BPE_DRIVER_MAX_VOCAB`` the capped table is collected
    once and the rounds run driver-side (~1 Spark job total instead of
    2 sequential jobs per round); above it, the original distributed
    per-round loop."""
    spark = df.sparkSession
    if vocab_cap <= BPE_DRIVER_MAX_VOCAB:
        words, cnts = _collect_word_frequencies(df, text_col, vocab_cap)
        records, _ = _merge_rounds_driver(words, cnts, iters)
        return local_rows_df(spark, records, MERGE_SCHEMA)
    state = (
        word_frequencies(df, text_col, vocab_cap)
        .select("word", "cnt", _char_syms(F.col("word")).alias("syms"))
        .localCheckpoint(eager=True, storageLevel=CKPT_DESER)
    )
    records: list[tuple[int, str, str, str, int]] = []
    for step in range(1, iters + 1):
        best = (
            state.select(F.explode(_adjacent_pairs(F.col("syms"))).alias("p"), "cnt")
            .groupBy(F.col("p.l").alias("lhs"), F.col("p.r").alias("rhs"))
            .agg(F.sum("cnt").cast("long").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "lhs", "rhs")
            .limit(1)
            .collect()  # bounded argmax probe: exactly one row
        )
        if not best:
            break
        lhs, rhs, cnt = best[0]["lhs"], best[0]["rhs"], best[0]["pair_count"]
        records.append((step, lhs, rhs, lhs + rhs, cnt))
        state = state.withColumn(
            "syms", merge_pair(F.col("syms"), lhs, rhs)
        ).localCheckpoint(eager=True, storageLevel=CKPT_DESER)
    return local_rows_df(spark, records, MERGE_SCHEMA)


def bpe_encode_stats(
    df: DataFrame,
    text_col: str = "text",
    iters: int = 6,
    vocab_cap: int = 50_000,
) -> DataFrame:
    """Corpus compression under the learned merges — the train→apply
    loop a tokenizer pipeline runs to pick a vocab size. Because BPE
    merges apply per-word, the corpus-weighted token count is computable
    from the FINAL symbol state of the (word, cnt) table alone — no
    second pass over the corpus: tokens = Σ cnt·len(syms), chars =
    Σ cnt·len(word). One row: words/chars/tokens + exact tokens-per-kchar
    ppm (integer DIV — no float division crosses the engine boundary).

    Same two regimes as ``bpe_merge_table``; the driver path computes the
    final-state aggregate in exact Python ints (all operands non-negative,
    so Python ``//`` ≡ Spark ``DIV`` ≡ DuckDB ``//``), with the SQL
    SUM-over-empty NULL contract preserved for an empty capped vocab."""
    spark = df.sparkSession
    if vocab_cap <= BPE_DRIVER_MAX_VOCAB:
        words, cnts = _collect_word_frequencies(df, text_col, vocab_cap)
        _, syms = _merge_rounds_driver(words, cnts, iters)
        stats_schema = (
            "n_words bigint, n_chars bigint, n_tokens bigint,"
            " tokens_per_char_ppm bigint"
        )
        if not words:
            return local_rows_df(spark, [(None, None, None, None)], stats_schema)
        n_words = sum(cnts)
        n_chars = sum(c * len(w) for w, c in zip(words, cnts))
        n_tokens = sum(c * len(s) for s, c in zip(syms, cnts))
        return local_rows_df(
            spark,
            [(n_words, n_chars, n_tokens, (n_tokens * 1_000_000) // n_chars)],
            stats_schema,
        )
    state = (
        word_frequencies(df, text_col, vocab_cap)
        .select("word", "cnt", _char_syms(F.col("word")).alias("syms"))
        .localCheckpoint(eager=True, storageLevel=CKPT_DESER)
    )
    for _ in range(iters):
        best = (
            state.select(F.explode(_adjacent_pairs(F.col("syms"))).alias("p"), "cnt")
            .groupBy(F.col("p.l").alias("lhs"), F.col("p.r").alias("rhs"))
            .agg(F.sum("cnt").cast("long").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not best:
            break
        state = state.withColumn(
            "syms", merge_pair(F.col("syms"), best[0]["lhs"], best[0]["rhs"])
        ).localCheckpoint(eager=True, storageLevel=CKPT_DESER)
    return state.agg(
        F.sum("cnt").cast("long").alias("n_words"),
        F.sum(F.col("cnt") * F.length("word")).cast("long").alias("n_chars"),
        F.sum(F.col("cnt") * F.size("syms")).cast("long").alias("n_tokens"),
        F.expr(
            "CAST((SUM(cnt * size(syms)) * 1000000)"
            " DIV SUM(cnt * length(word)) AS BIGINT)"
        ).alias("tokens_per_char_ppm"),
    )


def bpe_encode_stats_sql(
    table: str = "documents",
    text_expr: str = "text",
    iters: int = 6,
    vocab_cap: int = 50_000,
) -> str:
    """DuckDB twin of ``bpe_encode_stats``: the same unrolled merge CTEs,
    final aggregate over the last symbol state."""
    return f"""{_bpe_with_block(table, text_expr, iters, vocab_cap)}
    SELECT CAST(SUM(cnt) AS BIGINT) AS n_words,
           CAST(SUM(cnt * length(word)) AS BIGINT) AS n_chars,
           CAST(SUM(cnt * len(syms)) AS BIGINT) AS n_tokens,
           CAST((SUM(cnt * len(syms)) * 1000000)
                 // SUM(cnt * length(word)) AS BIGINT) AS tokens_per_char_ppm
    FROM s{iters}
    """


def _bpe_with_block(
    table: str, text_expr: str, iters: int, vocab_cap: int
) -> str:
    """The shared unrolled-CTE chain: word frequencies (capped), char
    symbolization, then per-round pair census p{r} / argmax b{r} /
    fold-rewritten state s{r}. An empty round r yields an empty b{r};
    the LEFT JOIN then carries s{r-1} forward UNCHANGED — mirroring the
    Spark loop's early ``break``, which both stops emitting merges AND
    keeps the final symbol state for ``bpe_encode_stats``."""
    from delta_unity_duckdb_spark.operators.text import TOKEN_SPLIT_RE

    ctes = [
        f"""tok AS (
      SELECT UNNEST(list_filter(string_split_regex(lower({text_expr}),
                    '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS word
      FROM {table}),
    wf AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok
      WHERE regexp_matches(word, '^[a-z]+$')
      GROUP BY word ORDER BY cnt DESC, word LIMIT {vocab_cap}),
    s0 AS (
      SELECT word, cnt,
             list_transform(range(1, length(word) + 1),
                            i -> substr(word, CAST(i AS INT), 1)) AS syms
      FROM wf)"""
    ]
    for r in range(1, iters + 1):
        ctes.append(
            f"""p{r} AS (
      SELECT pr.l AS lhs, pr.r AS rhs, CAST(SUM(cnt) AS BIGINT) AS pair_count
      FROM (SELECT UNNEST(list_transform(range(1, len(syms)),
                     i -> {{'l': syms[CAST(i AS INT)],
                            'r': syms[CAST(i AS INT) + 1]}})) AS pr,
                   cnt
            FROM s{r - 1})
      GROUP BY 1, 2),
    b{r} AS (SELECT lhs, rhs, pair_count FROM p{r}
             ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
    s{r} AS (
      SELECT word, cnt,
             CASE WHEN b.lhs IS NULL THEN syms ELSE list_reduce(
                 list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, x -> [x])),
                 (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.lhs AND x[1] = b.rhs
                                  THEN list_append(acc[1:-2], b.lhs || b.rhs)
                                  ELSE list_append(acc, x[1]) END) END AS syms
      FROM s{r - 1} LEFT JOIN b{r} b ON TRUE)"""
        )
    return "WITH " + ",\n    ".join(ctes)


def bpe_merges_sql(
    table: str = "documents",
    text_expr: str = "text",
    iters: int = 6,
    vocab_cap: int = 50_000,
) -> str:
    """DuckDB twin of ``bpe_merge_table``: each round recomputes pair
    counts from the previous symbol state, picks the identical
    (count DESC, lhs, rhs) argmax, and rewrites with the identical
    ``list_reduce`` left fold."""
    union = "\n    UNION ALL\n    ".join(
        f"SELECT {r} AS step, lhs, rhs, lhs || rhs AS merged, pair_count FROM b{r}"
        for r in range(1, iters + 1)
    )
    return (
        _bpe_with_block(table, text_expr, iters, vocab_cap)
        + f"\n    {union}\n    ORDER BY step"
    )
