"""SCD Type 2 merge engine (reference flagship: delta_to_postgres_scd.py:177-267).

Re-expresses the reference's two-statement Postgres upsert —
(1) ``INSERT … ON CONFLICT DO UPDATE`` closing changed current rows,
(2) ``INSERT … ON CONFLICT DO NOTHING`` adding new current rows — as one
declarative DataFrame transformation:

- change detection = OR-chain of null-safe inequality over tracked columns
  (reference ``COALESCE(t.c,'') != COALESCE(s.c,'')``, delta_to_postgres_scd.py:252;
  here null-correct via ``<=>`` — NULL≠'' is a documented divergence),
- unchanged incoming rows are dropped (reference DO-NOTHING semantics),
- at most one current row per business key (reference partial unique index,
  delta_to_postgres_scd.py:232-239) is an invariant checked by
  ``scd2_invariant_violations``.

Scale posture: the merge is a single full-outer join on the business keys —
shuffle-partitioned by key, skew-handled by AQE, no driver-side collection.
Source batches are deduped on the business keys first (the reference would
violate its unique index on intra-batch dupes; SURVEY.md §7.7-2). With a
Delta-enabled cluster the same plan maps to ``DeltaTable.merge`` +
append; the Parquet-backed ``sync_scd2`` below is the local-mode
stand-in: one write job of the new state into a staging directory that
also yields the summary counts, then a directory swap.

Surrogate key: the reference's ``scd_id SERIAL`` is insertion-ordered;
a distributed engine cannot cheaply maintain a global counter, so the
surrogate is derived deterministically at read time via
``ROW_NUMBER() OVER (ORDER BY business_keys, effective_date)``
(``with_surrogate_key``) — no global sort on the write path.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

SCD_COLS = ("effective_date", "end_date", "is_current", "created_at", "updated_at")


def _any_changed(tracked: Sequence[str], left: str, right: str) -> Column:
    pred = F.lit(False)
    for c in tracked:
        pred = pred | ~(F.col(f"{left}.{c}").eqNullSafe(F.col(f"{right}.{c}")))
    return pred


def scd2_apply(
    target: DataFrame | None,
    source: DataFrame,
    business_keys: Sequence[str],
    tracked_cols: Sequence[str],
    effective_ts: Column,
    column_mapping: dict[str, str] | None = None,
) -> DataFrame:
    """Pure SCD2 transition: (previous target state, source batch) → new state.

    ``column_mapping`` renames source columns first (reference
    delta_to_postgres_scd.py:285-298).
    """
    if column_mapping:
        source = source.withColumnsRenamed(column_mapping)

    business_keys = list(business_keys)
    tracked_cols = list(tracked_cols)
    payload_cols = business_keys + tracked_cols

    # Intra-batch dedup on keys: keep an arbitrary-but-deterministic first row.
    w = Window.partitionBy(*business_keys).orderBy(*tracked_cols)
    source = (
        source.select(*payload_cols)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    if target is None:
        return source.select(
            *payload_cols,
            effective_ts.alias("effective_date"),
            F.lit(None).cast("timestamp").alias("end_date"),
            F.lit(True).alias("is_current"),
            effective_ts.alias("created_at"),
            effective_ts.alias("updated_at"),
        )

    history = target.filter(~F.col("is_current"))
    current = target.filter(F.col("is_current"))

    key_eq = [F.col(f"cur.{k}") == F.col(f"src.{k}") for k in business_keys]
    joined = current.alias("cur").join(
        source.alias("src"), on=key_eq, how="full_outer"
    )

    changed = _any_changed(tracked_cols, "cur", "src")
    src_key_null = F.col(f"src.{business_keys[0]}").isNull()
    cur_key_null = F.col(f"cur.{business_keys[0]}").isNull()

    # Current rows that survive untouched: no incoming row, or incoming row equal.
    untouched = joined.filter(~cur_key_null & (src_key_null | ~changed)).select("cur.*")

    # Current rows closed because the incoming row differs (reference stmt 1).
    closed = (
        joined.filter(~cur_key_null & ~src_key_null & changed)
        .select("cur.*")
        .withColumn("end_date", effective_ts)
        .withColumn("is_current", F.lit(False))
        .withColumn("updated_at", effective_ts)
    )

    # Incoming rows that become the new current version: new key, or changed
    # (reference stmt 2 — DO NOTHING drops unchanged incoming rows).
    fresh = (
        joined.filter(~src_key_null & (cur_key_null | changed))
        .select("src.*")
        .select(
            *payload_cols,
            effective_ts.alias("effective_date"),
            F.lit(None).cast("timestamp").alias("end_date"),
            F.lit(True).alias("is_current"),
            effective_ts.alias("created_at"),
            effective_ts.alias("updated_at"),
        )
    )

    cols = payload_cols + list(SCD_COLS)
    return (
        history.select(*cols)
        .unionByName(untouched.select(*cols))
        .unionByName(closed.select(*cols))
        .unionByName(fresh.select(*cols))
    )


def with_surrogate_key(scd: DataFrame, business_keys: Sequence[str]) -> DataFrame:
    """Deterministic surrogate key (reference ``scd_id SERIAL``,
    delta_to_postgres_scd.py:144)."""
    w = Window.orderBy(*business_keys, "effective_date")
    return scd.withColumn("scd_id", F.row_number().over(w).cast("long"))


def sync_scd2(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    business_keys: Sequence[str],
    tracked_cols: Sequence[str],
    effective_ts: Column | None = None,
    column_mapping: dict[str, str] | None = None,
) -> dict:
    """Materializing sync (reference orchestrator delta_to_postgres_scd.py:269-337).

    Reads the Parquet target if present, applies the SCD2 transition and
    writes the new state ONCE, into a sibling staging directory
    (``<target>.__staging_<token>``): the transition's lineage reads the
    target's own files, so it cannot overwrite them in place. The summary
    counts (``total_rows``, ``current_rows``, like the reference's) are an
    ``Observation`` on that same write job — no cache, no re-read, no
    count jobs. The staging directory then replaces the target by two
    renames. A write that fails leaves the previous target as it was and
    removes the staging directory.
    """
    effective_ts = effective_ts if effective_ts is not None else F.current_timestamp()
    target = None
    if os.path.exists(target_path):
        target = spark.read.parquet(target_path)
    result = scd2_apply(
        target, source, business_keys, tracked_cols, effective_ts, column_mapping
    )
    counts = Observation()
    base = target_path.rstrip(os.sep)
    token = uuid.uuid4().hex[:12]
    staging, retired = f"{base}.__staging_{token}", f"{base}.__retired_{token}"
    try:
        result.observe(
            counts,
            F.count(F.lit(1)).alias("total_rows"),
            F.count_if(F.col("is_current")).alias("current_rows"),
        ).write.parquet(staging)
        summary = counts.get
        if target is not None:
            os.rename(target_path, retired)
        try:
            os.rename(staging, target_path)
        except OSError:
            if target is not None:
                os.rename(retired, target_path)
            raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(retired, ignore_errors=True)
    return {"target_path": target_path, **summary}


def scd2_invariant_violations(scd: DataFrame, business_keys: Sequence[str]) -> dict:
    """Invariant checks mirroring the reference's post-sync verification
    (test_pg_query.py:42-78): one current row per key; end_date IS NULL ⇔
    is_current. Returns violation counts (all zero when healthy)."""
    dup_current = (
        scd.filter(F.col("is_current"))
        .groupBy(*business_keys)
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    bad_end_date = scd.filter(
        (F.col("is_current") & F.col("end_date").isNotNull())
        | (~F.col("is_current") & F.col("end_date").isNull())
    ).count()
    return {"duplicate_current_keys": dup_current, "end_date_mismatches": bad_end_date}
