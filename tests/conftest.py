from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
    from delta_unity_duckdb_spark.session import get_spark

    s = get_spark(master="local[8]")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` under a fresh job group and returns
    its result and the number of Spark jobs it launched."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


# Every driver-or-distributed regime cap, as "module.attribute". With all
# of them at 0, every operator with a driver kernel takes its distributed
# path (``collect_if_small`` returns None without a job for a cap <= 0).
# ``delta_log._MERGE_KEYSET_CAP`` is not among them: it picks how a merge
# prunes files (exact key set or min/max envelope), which both regimes
# share, so forcing it would change which files a merge rewrites.
REGIME_CAPS = [
    "delta_unity_duckdb_spark.operators.graph.SMALL_GRAPH_EDGES",
    "delta_unity_duckdb_spark.operators.dedup.EMB_DRIVER_MAX_VECTORS",
    "delta_unity_duckdb_spark.operators.clustering.SMALL_KMEANS_ROWS",
    "delta_unity_duckdb_spark.operators.bpe.BPE_DRIVER_MAX_VOCAB",
    "delta_unity_duckdb_spark.workload.graphq.TRI_DRIVER_MAX_ROWS",
    "delta_unity_duckdb_spark.sources.delta_log._MERGE_DRIVER_ROWS",
]


@pytest.fixture
def force_distributed(monkeypatch):
    """``force_distributed()`` sets every regime cap to 0 for the rest of
    the test, so a test can run one input through both regimes."""

    def apply():
        for cap in REGIME_CAPS:
            monkeypatch.setattr(cap, 0)

    return apply

