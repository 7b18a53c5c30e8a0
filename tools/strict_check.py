"""Driver-mirror strict correctness sweep (CLI wrapper around
tests.oracle_harness.strict_compare).

The per-round driver compares ``queries()`` vs ``oracle_sql()`` by
converting both results to pandas (``spark_df.toPandas()`` vs duckdb
``.df()``), sorting columns by name and rows by value, then hashing the
values TYPE-sensitively. ``strict_compare`` mirrors that; this sweep runs
it over every registered oracle-paired query so "strict green" locally
predicts a driver-green CORRECTNESS row.

Usage: python tools/strict_check.py [sf_dir] [name_substring ...]
Multiple substrings OR together (a query runs if ANY matches); no
substring sweeps every oracle-paired query. Writes one JSON line per
query; summary line at the end.
"""

from __future__ import annotations

import json
import os
import sys


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    filts = sys.argv[2:]
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import SparkSession

    from delta_unity_duckdb_spark.workload import ORACLE, QUERIES
    from tests.oracle_harness import duck_connection, strict_compare

    # Deliberately a BARE session (mirroring the external driver), not
    # get_spark(); SPARK_GRAFT_MASTER still applies so the identical
    # sweep can run against tools/cluster_sim.py's multi-process
    # standalone cluster.
    spark = (
        SparkSession.builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", "local[8]")
        )
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .appName("strict-check")
        .getOrCreate()
    )
    con = duck_connection(sf_dir)
    bad = []
    for name, fn in QUERIES.items():
        if filts and not any(f in name for f in filts):
            continue
        if name not in ORACLE:
            continue
        try:
            r = strict_compare(fn(spark, sf_dir), con, ORACLE[name])
        except Exception as e:  # noqa: BLE001
            r = {"hash_match": False, "violations": [f"ERR:{type(e).__name__}:{e}"]}
        ok = r["hash_match"] and not r["violations"]
        out = {k: v for k, v in r.items() if k not in ("spark_cols", "duck_cols")}
        print(json.dumps({"name": name, "ok": ok, **out}, default=str), flush=True)
        if not ok:
            bad.append(name)
    print(json.dumps({"summary": {"bad": bad, "n_bad": len(bad)}}))


if __name__ == "__main__":
    main()
