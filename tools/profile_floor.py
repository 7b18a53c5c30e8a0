#!/usr/bin/env python
"""Job-floor decomposition for registered queries (guide §1).

Runs the named queries in passes (the first one a warm-up) and measures,
for each query and pass:
  - construct  : seconds to build the DataFrame (py4j Column/plan
                 construction PLUS any probe/collect jobs a driver-regime
                 query runs while deciding its regime)
  - exec       : seconds for the noop-sink execution of the built frame
  - jobs       : number of Spark jobs launched across construct+exec
                 (scheduling floors: each job is ~10-40 ms of fixed cost
                 at local[32] even on empty work)
  - codegen_compiles : classes Spark's code generator compiled for the
                 query over the passes after the warm-up; 0 when every
                 generated class is served from the session's codegen
                 cache, so a change that brings recompiles back shows here

min-of-N on construct/exec; jobs from the last pass (deterministic).

Usage: python tools/profile_floor.py [--sf-dir DIR] [--iters N] name ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from delta_unity_duckdb_spark.session import get_spark
    from delta_unity_duckdb_spark.workload import QUERIES

    names = args.names or []
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark(app_name="profile-floor")
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["count_star"](spark, args.sf_dir).collect()
    tracker = spark.sparkContext.statusTracker()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compile_timer = codegen.METRIC_COMPILATION_TIME()

    inf = float("inf")
    out = {n: {"construct": inf, "exec": inf, "jobs": 0, "codegen_compiles": 0} for n in names}
    # Passes over the whole list, not N runs of one query: a codegen cache
    # smaller than the list's working set evicts between a query's calls,
    # and only shows up as recompiles when other queries run in between.
    for it in range(args.iters + 1):  # first pass = warmup/codegen
        for n in names:
            c0 = compile_timer.getCount()
            group = f"floor:{n}:{time.monotonic_ns()}"
            spark.sparkContext.setJobGroup(group, n)
            t0 = time.perf_counter()
            df = QUERIES[n](spark, args.sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            r = out[n]
            r["construct"] = min(r["construct"], round(t1 - t0, 3))
            r["exec"] = min(r["exec"], round(t2 - t1, 3))
            r["jobs"] = len(tracker.getJobIdsForGroup(group))
            if it:
                r["codegen_compiles"] += compile_timer.getCount() - c0
            spark.sparkContext.setJobGroup(None, None)
    for n in names:
        print(f"[floor] {n}: {out[n]}", file=sys.stderr, flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
