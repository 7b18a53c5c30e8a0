"""Sinks: Delta/Parquet table writes + the JDBC (Lakebase Postgres) path
(reference A24-A26; delta_to_postgres_scd.py:107-138, pg_connect.py:14-46).

The reference pushes rows to Postgres by building SQL text literals and
shelling out to psql — O(rows) string construction through one process.
Spark-native: ``df.write.jdbc`` ships typed batches from every executor in
parallel; the OAuth minting and URL construction port verbatim
(Spark-independent), with the Databricks SDK gated behind an import-try
and an injectable credential factory so the flow is testable offline.
"""

from __future__ import annotations

import urllib.parse
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame


# ---------------------------------------------------------------- table sinks
def write_table(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
    fmt: str | None = None,
) -> None:
    """Write a table (Delta when available, else Parquet), optionally
    hive-partitioned. Partition columns should be low-cardinality — at
    100 TB each distinct value is a directory; date/region-style keys,
    never ids."""
    if fmt is None:
        try:
            import delta  # noqa: F401

            fmt = "delta"
        except ImportError:
            fmt = "parquet"
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


# ---------------------------------------------------------------- OAuth vending
def generate_oauth_token(
    instance_names: Sequence[str],
    credential_factory: Callable[..., Any] | None = None,
) -> dict[str, Any]:
    """Databricks database-credential minting (pg_connect.py:14-46,
    generate_oauth_token.py:12-31): returns {token, expiration_time}.

    ``credential_factory`` injects the SDK call in tests; the real path
    uses ``WorkspaceClient().database.generate_database_credential``.
    """
    if credential_factory is None:  # pragma: no cover - needs a live workspace
        try:
            from databricks.sdk import WorkspaceClient
        except ImportError as exc:
            raise RuntimeError(
                "databricks-sdk not installed; pass credential_factory"
            ) from exc
        import uuid

        def credential_factory(**kw):
            return WorkspaceClient().database.generate_database_credential(
                request_id=str(uuid.uuid4()), **kw
            )

    cred = credential_factory(instance_names=list(instance_names))
    return {
        "token": getattr(cred, "token", None) or cred["token"],
        "expiration_time": getattr(cred, "expiration_time", None)
        or cred.get("expiration_time"),
    }


# ---------------------------------------------------------------- JDBC URL
def pg_jdbc_url(
    host: str,
    database: str,
    port: int = 5432,
    sslmode: str = "require",
) -> str:
    """JDBC URL for the Postgres sink (reference connection string,
    delta_to_postgres_scd.py:107-117, adapted psql→JDBC)."""
    return f"jdbc:postgresql://{host}:{port}/{database}?sslmode={sslmode}"


def pg_connection_string(
    user: str, token: str, host: str, database: str, port: int = 5432
) -> str:
    """psql-style URL with URL-encoded user + OAuth-token password
    (delta_to_postgres_scd.py:110-117 verbatim semantics)."""
    u = urllib.parse.quote(user, safe="")
    p = urllib.parse.quote(token, safe="")
    return f"postgresql://{u}:{p}@{host}:{port}/{database}?sslmode=require"


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    user: str,
    password: str,
    mode: str = "append",
    batchsize: int = 10_000,
    num_partitions: int | None = None,
) -> None:
    """Distributed JDBC write: every executor streams typed batches —
    replaces the reference's collect-all → VALUES-literal → psql pipeline
    (delta_to_postgres_scd.py:183-227) and its single-process ceiling.
    The JDBC driver for ``url`` must be on Spark's classpath (Postgres
    for the Lakebase sink; the tests use the embedded Derby that ships
    with Spark)."""
    if num_partitions:
        df = df.repartition(num_partitions)
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("batchsize", str(batchsize))
        .option("isolationLevel", "READ_COMMITTED")
        .mode(mode)
        .save()
    )


# ---------------------------------------------------------------- bucketed tables
def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) on the join key.

    The 100 TB join strategy for fact⋈fact: two tables bucketed the same
    way co-locate matching keys at WRITE time, so every subsequent join or
    aggregation on the bucket key runs with ZERO shuffle — the dominant
    cost of large joins disappears from every downstream query. Bucket
    metadata lives in the session catalog (``saveAsTable``).
    """
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def compact_table(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: Sequence[str] = (),
) -> dict:
    """Small-file compaction (lakehouse OPTIMIZE): rewrite a parquet
    directory into ~target-sized files.

    Streaming appends and fine-grained partitions accumulate small files;
    at 100 TB a scan's task count — and the NameNode/object-store listing
    load — is proportional to file count, so compaction is routine
    maintenance. File count = ceil(bytes / target); rows are
    range-redistributed (repartition) and optionally sorted within files
    so column min/max stats stay tight for data skipping.

    Writes to a temp sibling then swaps, so a failed compaction never
    destroys the source. Returns {files_before, files_after, bytes}.
    """
    import glob
    import os
    import shutil

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total_bytes // target_file_bytes))

    df = spark.read.parquet(path)
    if sort_within_by:
        out = df.repartitionByRange(n_out, *sort_within_by).sortWithinPartitions(
            *sort_within_by
        )
    else:
        out = df.repartition(n_out)

    tmp = path.rstrip("/") + "__compact_tmp"
    out.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + "__compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return {
        "files_before": len(files),
        "files_after": len(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        ),
        "bytes": total_bytes,
    }
