"""Spark jobs launched by the Delta / SCD2 write path, pinned as upper
bounds through status-tracker job groups. Log metadata — a snapshot of a
checkpointed table, writing the checkpoint — launches no job at all. A
small MERGE in the driver regime is two jobs: the key-only probe and the
source collect, after which pyarrow rewrites the touched files. In the
distributed regime (every regime cap at 0) a MERGE is the key probe and
one write job, and an SCD2 sync one write job, each split into a job per
stage by AQE, so they stay within ``MERGE_MAX_JOBS`` and
``SYNC_MAX_JOBS``. The earlier probe-count-and-rewrite formulation took
15 and 10 here."""

from __future__ import annotations

from pyspark.sql import functions as F

from delta_unity_duckdb_spark.operators.scd2 import sync_scd2
from delta_unity_duckdb_spark.sources import delta_log as D

MERGE_MAX_JOBS = 8
MERGE_DRIVER_MAX_JOBS = 2
SYNC_MAX_JOBS = 8


def _table(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 200).select("id", (F.col("id") * 10).alias("v"))
    D.write_delta(df.repartitionByRange(2, "id").sortWithinPartitions("id"), t)
    return t


def test_checkpoint_write_and_read_launch_no_job(spark, tmp_path, count_jobs):
    t = _table(spark, tmp_path)
    D.write_delta(spark.range(200, 210, numPartitions=1).select("id", F.col("id").alias("v")), t)
    version, n = count_jobs(lambda: D.write_checkpoint(spark, t))
    assert (version, n) == (1, 0)
    snap, n = count_jobs(lambda: D.snapshot(spark, t))
    assert n == 0 and snap.version == 1 and len(snap.adds) == 3
    # a second checkpoint starts from the first one: still no job
    D.write_delta(spark.range(210, 220, numPartitions=1).select("id", F.col("id").alias("v")), t)
    assert count_jobs(lambda: D.write_checkpoint(spark, t)) == (2, 0)


def test_small_merge_job_bound(spark, tmp_path, count_jobs, force_distributed):
    src = spark.createDataFrame([(5, -5), (150, -150), (900, -900)], "id long, v long")
    for regime, bound in (("driver", MERGE_DRIVER_MAX_JOBS), ("distributed", MERGE_MAX_JOBS)):
        if regime == "distributed":
            force_distributed()
        t = _table(spark, tmp_path / regime)
        out, n = count_jobs(lambda: D.merge_delta(src, t, on=["id"]))
        assert (out["rows_matched"], out["files_rewritten"]) == (2, 2)
        assert n <= bound, (regime, n)


def test_sync_scd2_job_bound(spark, tmp_path, count_jobs):
    target = str(tmp_path / "scd")
    schema = "k long, v string"
    initial = spark.createDataFrame([(i, "a") for i in range(20)], schema)
    changes = spark.createDataFrame([(1, "b"), (2, "a"), (30, "c")], schema)
    for i, batch in enumerate((initial, changes)):
        out, n = count_jobs(
            lambda: sync_scd2(spark, batch, target, ["k"], ["v"],
                              F.lit(f"2024-01-0{i + 1}").cast("timestamp")),
        )
        assert n <= SYNC_MAX_JOBS, (i, n)
    assert (out["total_rows"], out["current_rows"]) == (22, 21)
