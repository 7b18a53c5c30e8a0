"""Structured Streaming workload entries (SURVEY.md §7.6).

Each query executes the REAL streaming path — file-source readStream →
watermarked stateful aggregation → memory sink drained with
Trigger.AvailableNow — and returns the sink contents as a DataFrame. The
oracles are the same SQL as the batch window queries: streaming and batch
MUST agree on complete input, which is exactly what availableNow gives.

``stream_stateful_totals`` exercises applyInPandasWithState (arbitrary
per-key state); float accumulation order differs from a SQL SUM, so it
registers rows-only (driver records count/schema, not value-hash).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from delta_unity_duckdb_spark.functions.hashing import hash31
from delta_unity_duckdb_spark.functions.numeric import dec
from delta_unity_duckdb_spark.operators.sketches import (
    _CMS_A,
    _CMS_B,
    _P,
    cms_estimate,
    cms_positions_sql,
    hll_estimate,
    hll_sketch,
    hll_sql,
)
from delta_unity_duckdb_spark.streaming.events import (
    read_events_stream,
    run_available_now,
    stateful_running_totals,
    stream_scratch_dir,
)
from delta_unity_duckdb_spark.workload.registry import query


@query(
    "stream_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS sum_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark, sf_dir):
    """Watermarked 5-minute tumbling windows via readStream; equals the
    batch plan on complete input (late data would be dropped past the
    10-minute watermark on a live feed)."""
    e = read_events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("decimal(38,6)").alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return run_available_now(agg, output_mode="complete")


@query(
    "stream_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                       >= INTERVAL '5 minutes'
                  OR LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new
      FROM events WHERE ts IS NOT NULL),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM marked)
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS sum_value
    FROM sessions GROUP BY user_id, session_no
    """,
)
def stream_session_window(spark, sf_dir):
    """Streaming per-user sessionization (5-minute gap) — session_window
    keeps open sessions in state until the watermark closes them;
    availableNow finalizes everything at end-of-input."""
    e = read_events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("decimal(38,6)").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    return run_available_now(agg, output_mode="complete")


@query(
    "stream_stateful_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_totals(spark, sf_dir):
    """Per-user running totals held in explicit GroupState
    (applyInPandasWithState) — the arbitrary-stateful-operator path.

    Hash-checkable against plain SQL: the fixture values carry exactly two
    decimals, so the Python float accumulation rounds back to the exact
    decimal sum (error ~1e-10 << 0.005, and no .xx5 tie cases exist)."""
    got = run_available_now(
        stateful_running_totals(read_events_stream(spark, sf_dir)),
        output_mode="update",
    )
    # update-mode sink holds one emission per (user, batch); final state =
    # max per user (totals are monotone across batches).
    return got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max("sum_value"), 2).alias("sum_value"),
    )


@query(
    "stream_sliding_window",
    oracle="""
    WITH phased AS (
      SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS window_start, value
      FROM events WHERE ts IS NOT NULL
      UNION ALL
      SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP), INTERVAL '5 minutes') AS window_start, value
      FROM events WHERE ts IS NOT NULL
    )
    SELECT window_start, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS sum_value
    FROM phased GROUP BY 1
    """,
)
def stream_sliding_window(spark, sf_dir):
    """Watermarked sliding windows (10-minute width, 5-minute slide) via
    readStream — every event lands in 2 windows; same oracle as the batch
    sliding_window query."""
    e = read_events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("decimal(38,6)").alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "n",
            "sum_value",
        )
    )
    return run_available_now(agg, output_mode="complete")


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.user_id,
           p.event_id AS purchase_event_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           v.event_id AS view_event_id,
           CAST(v.ts AS TIMESTAMP) AS view_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND CAST(v.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 6 HOUR
     AND CAST(v.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
    """,
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream inner join: purchases matched to same-user views in
    the preceding 6 hours. Both sides are watermarked and the join
    condition bounds event-time on both ends, so Spark can expire join
    state — the only formulation that runs unbounded at scale. availableNow
    over the fixture = one micro-batch, so the result equals the batch
    interval join the oracle computes."""
    e = read_events_stream(spark, sf_dir)
    v = (
        e.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_event_id"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_event_id"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = p.join(
        v,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 6 HOURS"))
        & (F.col("view_ts") <= F.col("purchase_ts")),
        "inner",
    )
    out = joined.select(
        F.col("p_user_id").alias("user_id"),
        "purchase_event_id",
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "view_event_id",
        F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
    )
    return run_available_now(out, output_mode="append")


@query(
    "stream_dedup",
    oracle="SELECT event_id, event_type FROM events",
)
def stream_dedup(spark, sf_dir):
    """Streaming exact dedup (E1 streaming arm): the input stream is
    unioned with itself — every event delivered twice, the at-least-once
    profile of real feeds — and dropDuplicatesWithinWatermark must emit
    each exactly once. State holds one key per event inside the watermark
    horizon and is evicted as the watermark advances (bounded memory on an
    unbounded stream — the property batch dropDuplicates can't give).
    Oracle: the original events, un-duplicated."""
    from delta_unity_duckdb_spark.streaming.events import (
        dedup_events_stream,
        read_events_stream,
    )

    e = read_events_stream(spark, sf_dir).select("event_id", "event_type", "ts")
    doubled = e.unionByName(e)
    deduped = dedup_events_stream(doubled, keys=["event_id"]).select(
        "event_id", "event_type"
    )
    return run_available_now(deduped, output_mode="append")


from delta_unity_duckdb_spark.workload.scd import SCD2_FINAL_STATE_SQL


@query("stream_scd2_sync", oracle=SCD2_FINAL_STATE_SQL)
def stream_scd2_sync(spark, sf_dir):
    """Streaming twin of the flagship SCD2 merge: the same two customer
    batches as ``scd2_sync`` (snapshot at T1, every-10th-key mutated at
    T2) arrive as a file-source change feed, ONE FILE PER MICRO-BATCH
    (maxFilesPerTrigger=1), and foreachBatch applies the merge
    incrementally. Registered with the identical closed-form oracle —
    streaming must converge to the batch engine's exact final state,
    surrogate keys included."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    from delta_unity_duckdb_spark.sources.tables import load_table
    from delta_unity_duckdb_spark.streaming.events import scd2_stream_sync
    from delta_unity_duckdb_spark.workload.scd import T1, T2

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    batches = [
        cust.withColumn("batch_ts", F.lit(T1)),
        cust.withColumn(
            "c_mktsegment",
            F.when(F.col("c_custkey") % 10 == 0, F.lit("ALTERED")).otherwise(
                F.col("c_mktsegment")
            ),
        ).withColumn("batch_ts", F.lit(T2)),
    ]

    feed_dir = stream_scratch_dir("scd2_feed_")
    base_mtime = 1_700_000_000
    for i, bdf in enumerate(batches):
        stage = stream_scratch_dir(f"scd2_stage_{i}_")
        bdf.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(
            f for f in os.listdir(stage) if f.endswith(".parquet") and f.startswith("part-")
        )
        dst = os.path.join(feed_dir, f"feed-{i}.parquet")
        shutil.copy(os.path.join(stage, part), dst)
        # distinct mtimes pin the file source's oldest-first batch order
        os.utime(dst, (base_mtime + i * 100, base_mtime + i * 100))
        shutil.rmtree(stage)

    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    state = scd2_stream_sync(
        stream, ["c_custkey"], ["c_name", "c_mktsegment", "c_acctbal"]
    )
    w = Window.orderBy("c_custkey", "effective_date")
    return state.select(
        F.row_number().over(w).cast("long").alias("scd_id"),
        "c_custkey",
        "c_name",
        "c_mktsegment",
        "c_acctbal",
        "effective_date",
        "end_date",
        "is_current",
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
           c_mktsegment,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def stream_static_join(spark, sf_dir):
    """Stream-static dimension enrichment — the most common production
    streaming shape: a fact stream joined to a slowly-changing dimension
    snapshot, then windowed per segment. The static side is re-read per
    micro-batch by Structured Streaming (so a dim refresh is picked up
    without restart) and BROADCAST — no shuffle ever touches the stream
    side for the join; the only stateful shuffle is the windowed
    aggregation, watermark-bounded. Oracle: the identical batch join+agg.
    """
    from delta_unity_duckdb_spark.sources.tables import load_table

    e = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        e.withWatermark("ts", "10 minutes")
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"), "inner")
        .groupBy(F.window("ts", "15 minutes"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("decimal(38,6)").alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "c_mktsegment",
            "n",
            "sum_value",
        )
    )
    return run_available_now(agg, output_mode="complete")


@query(
    "stream_hll_distinct",
    oracle=hll_sql(
        "(SELECT * FROM events WHERE ts IS NOT NULL)",
        "time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))",
        "user_id",
        6,
    )
    + " ORDER BY g",
)
def stream_hll_distinct(spark, sf_dir):
    """Streaming distinct-user estimation per 10-minute window via
    HyperLogLog registers — the canonical streaming-sketch shape: the
    STREAMING STATE IS THE SKETCH (windows × 2^p register maxima, a
    bounded watermark-evictable aggregation; exact streaming DISTINCT
    would hold every user id per window forever), and the estimate is a
    stateless read-side fold over the sink. Because the registers are
    md5-portable and the estimate is exact-integer arithmetic, the
    DuckDB oracle replays the identical batch computation — streaming
    vs batch agreement AND engine agreement in one check."""
    e = read_events_stream(spark, sf_dir)
    windowed = e.withWatermark("ts", "10 minutes").select(
        F.window("ts", "10 minutes").alias("win"), "user_id"
    )
    registers = hll_sketch(windowed, ["win"], "user_id", p=6)
    sunk = run_available_now(registers, output_mode="complete")
    return (
        hll_estimate(sunk, ["win"], p=6)
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("g"),
            "registers_used",
            "hll_raw",
            "hll_distinct",
        )
        .orderBy("g")
    )


@query(
    "stream_cms_top_users",
    oracle=f"""
    WITH tc AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
    pos AS ({cms_positions_sql("tc", "user_id", "user_id, n", 1024)}),
    counters AS (
      SELECT row_i, pos, CAST(SUM(n) AS BIGINT) AS cnt
      FROM pos GROUP BY row_i, pos),
    ppos AS ({cms_positions_sql("tc", "user_id", "user_id, n", 1024)}),
    est AS (
      SELECT p.user_id, MIN(c.cnt) AS cms_est
      FROM ppos p JOIN counters c ON p.row_i = c.row_i AND p.pos = c.pos
      GROUP BY p.user_id)
    SELECT user_id, CAST(cms_est AS BIGINT) AS cms_est
    FROM est ORDER BY cms_est DESC, user_id LIMIT 20
    """,
)
def stream_cms_top_users(spark, sf_dir):
    """Streaming heavy-hitter tracking: the Count-Min counter matrix IS
    the streaming aggregation state — a FIXED depth×width grid of SUM
    counters (update-compatible, bounded forever) where exact per-user
    streaming counts would grow state with the user population. The
    top-20 probe is a stateless read-side min-over-rows against the
    drained counters. Counters are portable-hash-addressed, so the
    DuckDB oracle rebuilds the identical matrix from the batch table —
    streaming≡batch≡cross-engine in one value hash."""
    from delta_unity_duckdb_spark.sources.tables import load_table

    e = read_events_stream(spark, sf_dir)
    h = hash31(F.col("user_id").cast("string"))
    slots = F.array(
        *[
            F.struct(
                F.lit(i).alias("row_i"),
                ((F.lit(a) * h + F.lit(b)) % F.lit(_P) % F.lit(1024)).alias(
                    "pos"
                ),
            )
            for i, (a, b) in enumerate(zip(_CMS_A, _CMS_B))
        ]
    )
    counters = (
        e.select(F.explode(slots).alias("rp"))
        .groupBy(F.col("rp.row_i").alias("row_i"), F.col("rp.pos").alias("pos"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sunk = run_available_now(counters, output_mode="complete")
    probe = load_table(spark, sf_dir, "events").select("user_id").distinct()
    return (
        cms_estimate(sunk, probe, "user_id", width=1024)
        .orderBy(F.desc("cms_est"), "user_id")
        .limit(20)
    )


# ------------------------------------------- streaming incremental dedup
from delta_unity_duckdb_spark.operators import dedup as _D  # noqa: E402
from delta_unity_duckdb_spark.workload.llm import incremental_near_dup_ingest  # noqa: E402
from delta_unity_duckdb_spark.workload.registry import ORACLE as _ORACLE  # noqa: E402
from delta_unity_duckdb_spark.functions.frames import CKPT_DESER


@query(
    "stream_incremental_dedup",
    # Streaming-batch equivalence: on complete input (availableNow) the
    # verdict table must equal the batch query's, so the oracle is the
    # SAME SQL the batch twin uses.
    oracle=_ORACLE["incremental_near_dup_ingest"],
)
def stream_incremental_dedup(spark, sf_dir):
    """Streaming ingest dedup — the LIVE form of
    ``incremental_near_dup_ingest``: document micro-batches arrive on a
    file-source stream, each doc's LSH band buckets are computed as a
    PURE NARROW MAP (``minhash_band_buckets_map`` — the stateless
    signature form; the batch groupBy form would be a second stateful
    operator), LEFT-joined against the STATIC corpus bucket index
    (re-read per micro-batch, so a nightly index rebuild is picked up
    without restart), and the per-doc lowest-id duplicate verdict is the
    single stateful aggregation, drained with Trigger.AvailableNow.
    Exactly-once verdicts via the checkpointed sink; oracle = the batch
    twin's SQL (streaming and batch MUST agree on complete input).
    Zero-shingle docs (NULL/empty text) get their verdict row through a
    sentinel union (band -1, no index match -> dup_of NULL), so the
    streaming and batch verdict tables agree even on degenerate text —
    round 8 closed what was previously a documented divergence."""
    import os

    from delta_unity_duckdb_spark.sources.tables import load_table

    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    docs_stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    inc = (
        docs_stream.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + 500000)
        .select("doc_id", "text")
    )
    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bc = _D.minhash_band_buckets(
        corpus, "doc_id", "text", num_perm=32, bands=8
    ).localCheckpoint(eager=True, storageLevel=CKPT_DESER)
    small = (
        bc.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") <= 1000)
        .select("band", "bucket")
    )
    idx = bc.withColumnRenamed("id", "corpus_id").join(small, ["band", "bucket"])
    bi = _D.minhash_band_buckets_map(
        inc, "doc_id", "text", num_perm=32, bands=8
    ).withColumnRenamed("id", "new_id")
    # Zero-shingle docs (NULL/empty text) produce no bucket rows from the
    # narrow map, so they would be ABSENT from the verdict where the
    # batch twin reports them with dup_of NULL (the round-8 adversarial-
    # values sweep hit exactly this, previously a documented divergence).
    # A per-doc sentinel row (band -1 matches no index bucket) guarantees
    # every increment doc a verdict; F.min skips its NULL candidate, so
    # docs with real buckets are unchanged.
    sentinel = inc.select(
        F.col("doc_id").alias("new_id"),
        F.lit(-1).cast("int").alias("band"),
        F.lit(None).cast("long").alias("bucket"),
    )
    bi = bi.unionByName(sentinel)
    cand = bi.join(F.broadcast(idx), ["band", "bucket"], "left")
    verdict = (
        cand.groupBy("new_id")
        .agg(F.min("corpus_id").cast("bigint").alias("dup_of"))
        .withColumn("is_dup", F.col("dup_of").isNotNull())
    )
    out = run_available_now(verdict, output_mode="complete")
    return out.orderBy("new_id").limit(500)


@query(
    "stream_late_data_drop",
    oracle="""
    WITH b AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
    mx AS (SELECT MAX(ts) AS tmax FROM b),
    recent AS (
      SELECT ts, event_type FROM b, mx
      WHERE ts > tmax - INTERVAL '30 hours'),
    late AS (
      SELECT ts, event_type FROM b, mx
      WHERE ts <= tmax - INTERVAL '30 hours'),
    wm AS (SELECT MAX(ts) - INTERVAL '36 hours' AS w FROM recent),
    kept AS (
      SELECT ts, event_type FROM recent
      UNION ALL
      SELECT l.ts, l.event_type FROM late l, wm
      WHERE time_bucket(INTERVAL '6 hours', l.ts) + INTERVAL '6 hours' > wm.w)
    SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
           event_type, COUNT(*) AS n
    FROM kept GROUP BY 1, 2
    """,
)
def stream_late_data_drop(spark, sf_dir):
    """Watermark LATE-DATA DROP semantics made observable — the one
    streaming behavior the availableNow twins cannot show (a single
    batch never drops anything). The events table replays as TWO
    micro-batches (maxFilesPerTrigger=1, mtime-pinned order): first the
    most recent 30 hours, then everything older as a late straggler batch.
    After batch 1 the watermark stands at max(ts) - 36h, so batch 2's
    rows count ONLY where their 6-hour window is still open
    (window_end > watermark) — the rest are dropped exactly as a live
    pipeline would drop them. The oracle replays the same two-phase
    rule in SQL: this is a value-level check of Spark's documented
    drop boundary, not just a smoke test.

    Update output mode: per-key counts re-emit as they grow, so the
    final value per (window, event_type) is the MAX over sink rows.

    Scale: state is bounded by the watermark horizon (windows close and
    evict); the late batch costs one filter against the broadcast
    watermark — dropping is free, which is the point of watermarks.
    """
    import os
    import shutil
    import tempfile

    from delta_unity_duckdb_spark.sources.tables import load_table
    from delta_unity_duckdb_spark.streaming.events import (
        read_events_stream_from_dir,
        run_available_now,
    )

    # watermarks require TIMESTAMP (ltz); the fixture surfaces NTZ — the
    # session runs UTC so the cast is value-preserving either way
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    tmax = ev.agg(F.max("ts")).collect()[0][0]
    cutoff = F.lit(tmax) - F.expr("INTERVAL 30 HOURS")
    # THREE micro-batches, the middle one EMPTY: since Spark 3.4
    # (SPARK-40925) the late-event filter uses the PREVIOUS batch's
    # watermark while state eviction uses the current one — so the
    # watermark advanced by batch 0 only starts dropping input in
    # batch 2. The empty marker batch advances the late-event filter
    # without adding any rows; without it, the straggler batch would be
    # aggregated-then-evicted instead of dropped (measured, not
    # guessed: numRowsDroppedByWatermark 0 vs 446 at sf0.001).
    batches = [
        ev.filter(F.col("ts") > cutoff),
        ev.limit(0),
        ev.filter(F.col("ts") <= cutoff),
    ]

    feed_dir = stream_scratch_dir("late_feed_")
    try:
        base_mtime = 1_700_000_000
        for i, bdf in enumerate(batches):
            stage = stream_scratch_dir(f"late_stage_{i}_")
            bdf.coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(
                f
                for f in os.listdir(stage)
                if f.endswith(".parquet") and f.startswith("part-")
            )
            dst = os.path.join(feed_dir, f"feed-{i}.parquet")
            shutil.copy(os.path.join(stage, part), dst)
            os.utime(dst, (base_mtime + i * 100, base_mtime + i * 100))
            shutil.rmtree(stage)

        stream = read_events_stream_from_dir(spark, feed_dir, batches[0].schema)
        agg = (
            stream.withWatermark("ts", "36 hours")
            .groupBy(F.window("ts", "6 hours"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("window.start").alias("window_start"), "event_type", "n"
            )
        )
        progress: list = []
        sink = run_available_now(agg, output_mode="update", progress_out=progress)
        # The whole query depends on the SPARK-40925 one-batch
        # watermark-filter lag (the empty marker batch above). Pin the
        # assumption at runtime: if this Spark build aggregates the
        # straggler batch instead of dropping it, fail with a clear
        # message rather than an oracle hash mismatch downstream.
        dropped = sum(
            int(op.get("numRowsDroppedByWatermark", 0))
            for p in progress
            for op in (p.get("stateOperators") or [])
        )
        if dropped == 0:
            raise RuntimeError(
                "stream_late_data_drop: runtime dropped 0 rows by watermark "
                "— this Spark build's late-event filter semantics differ "
                "from the SPARK-40925 behavior the query (and its oracle) "
                "encode"
            )
        # memory-sink rows are materialized in the session; the feed files
        # are no longer referenced, so the final groupBy below never
        # re-reads them
        return sink.groupBy("window_start", "event_type").agg(
            F.max("n").cast("bigint").alias("n")
        )
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)


@query(
    "stream_media_decode",
    oracle="""
    WITH params AS (
      SELECT i, 4000 + 250 * (i % 8) AS n, 13 + (i % 7) AS step
      FROM (SELECT UNNEST(RANGE(0, 24)) AS i)),
    samples AS (
      SELECT p.i, t.t, ((t.t * p.step) % 2048) - 1024 AS s
      FROM params p, LATERAL (SELECT UNNEST(RANGE(0, p.n)) AS t) t),
    lagged AS (
      SELECT i, t, s, LAG(s) OVER (PARTITION BY i ORDER BY t) AS prev
      FROM samples),
    feat AS (
      SELECT i,
             COUNT(*) AS n_samples,
             MAX(ABS(s)) AS peak,
             SUM(CAST(s AS BIGINT) * s) AS sum_sq,
             SUM(CASE WHEN prev IS NOT NULL
                       AND ((prev >= 0) <> (s >= 0)) THEN 1 ELSE 0 END) AS zcr
      FROM lagged GROUP BY i)
    SELECT 'w' || lpad(CAST(i AS VARCHAR), 4, '0') AS asset_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(n_samples AS BIGINT) AS n_samples,
           CAST((n_samples * 1000) // 8000 AS BIGINT) AS duration_ms,
           CAST(peak AS BIGINT) AS peak,
           CAST(sum_sq AS BIGINT) AS sum_sq,
           CAST(zcr AS BIGINT) AS zcr,
           CAST(FLOOR(SQRT(CAST(sum_sq AS DOUBLE) / n_samples) * 1000)
                AS BIGINT) AS rms_milli
    FROM feat ORDER BY asset_id
    """,
    oracle_kind="closed_form_replay",
)
def stream_media_decode(spark, sf_dir):
    """STREAMING multimodal ingest + decode: real WAV assets arrive as a
    file-source stream (3 parquet feed files, one micro-batch each via
    maxFilesPerTrigger) and the Arrow decode kernel (`audio_features` —
    the same stateless mapInPandas as the batch arm) runs per
    micro-batch into an append-mode memory sink drained with
    Trigger.AvailableNow. Streaming and batch decode MUST agree on
    complete input, so the oracle is the batch twin's closed-form
    waveform regeneration — the strongest check available for a
    streaming pass.

    Scale: this is the live-ingest shape for a media lake — binary
    assets land, decode/features run incrementally per micro-batch with
    no global state (the kernel is stateless, so no watermark needed),
    and the featurized table appends downstream."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from delta_unity_duckdb_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_features,
        make_wav_rows,
        media_arrow_table,
    )

    # Feed staging is DRIVER-side pyarrow writes (round 10): the fixture
    # rows are driver-built to begin with, and the previous
    # filter → coalesce(1) → Spark write → copy chain re-planned the
    # pickle local relation per feed file — measured 17.6 s of this
    # query's ~15-22 s wall for THREE 8-row files vs ~0.05 s total for
    # direct pq.write_table. The streaming path under test (file-source
    # micro-batches → Arrow decode → memory sink) is unchanged.
    rows = make_wav_rows(24)
    feed_dir = stream_scratch_dir("media_feed_")
    try:
        base_mtime = 1_700_000_000
        for b in range(3):
            part = [r for r in rows if int(r[0][1:5]) % 3 == b]
            dst = os.path.join(feed_dir, f"feed-{b}.parquet")
            pq.write_table(media_arrow_table(part), dst)
            os.utime(dst, (base_mtime + b * 100, base_mtime + b * 100))

        stream = (
            spark.readStream.schema(MEDIA_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
        )
        out = run_available_now(
            audio_features(stream), output_mode="append"
        )
        # materialize BEFORE the feed dir is removed — the memory sink
        # already holds the rows, but the returned plan must not point
        # at deleted input files (Arrow round-trip: an Arrow local
        # relation that keeps NULL-carrying longs exact; pandas would
        # widen them to float64)
        return spark.createDataFrame(
            out.orderBy("asset_id").toArrow(), out.schema
        )
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
