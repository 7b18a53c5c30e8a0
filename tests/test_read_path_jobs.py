"""Spark jobs launched by the two graph-shaped curation queries, pinned as
upper bounds through status-tracker job groups (construction plus the
Arrow materialization). On a small graph both finish on the driver from
the frame they already checkpoint: ``near_dup_clusters`` is the band
index checkpoint, one bounded probe and the left join back to the
documents; ``graph_kcore`` is the half-edge checkpoint, one bounded
probe and the one-row result. The plans that paired and aggregated in
Spark took 9 and 7 here."""

from __future__ import annotations

import pytest

from delta_unity_duckdb_spark.sources.tables import load_table
from delta_unity_duckdb_spark.workload import QUERIES

NEAR_DUP_MAX_JOBS = 5
KCORE_MAX_JOBS = 5


@pytest.mark.parametrize(
    "name, table, bound",
    [
        ("near_dup_clusters", "documents", NEAR_DUP_MAX_JOBS),
        ("graph_kcore", "lineitem", KCORE_MAX_JOBS),
    ],
)
def test_small_graph_query_job_bound(spark, sf_dir, count_jobs, name, table, bound):
    load_table(spark, sf_dir, table)  # the table's first load is not the query's
    out, n = count_jobs(lambda: QUERIES[name](spark, sf_dir).toArrow())
    assert out.num_rows > 0
    assert n <= bound, n
