"""Tests for the benchmark's own arithmetic and bookkeeping: no Spark
session is started. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import eventlog  # noqa: E402
import fixture  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


@pytest.mark.parametrize(
    "n, index, percentile",
    [(11, 0, 100 / 11), (20, 9, 50.0), (100, 89, 90.0), (1000, 989, 99.0)],
)
def test_tail_leaves_ten_samples_beyond(n, index, percentile):
    values = [float(i) for i in range(n)][::-1]  # order must not matter
    value, pct = stats.tail(values)
    assert value == float(index)
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(percentile)


def test_tail_needs_eleven_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_union_counts_overlap_once():
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.8), (3, 3)]) == 4
    assert stats.union_length([]) == 0


def test_self_time_with_overlapping_children():
    # children cover [1, 6] and [8, 10] of the span: 7 of its 10 seconds
    assert stats.self_time((0, 10), [(1, 4), (3, 6), (8, 12)]) == pytest.approx(3)
    assert stats.self_time((0, 10), []) == 10


def test_driver_gap_is_op_time_outside_every_job():
    op = (100.0, 110.0)
    jobs = [(102.0, 105.0), (104.0, 107.0), (99.0, 100.5), (111.0, 112.0)]
    # covered: [100, 100.5] and [102, 107] -> 5.5 of 10 seconds
    assert stats.driver_gap(op, jobs) == pytest.approx(4.5)


@pytest.mark.parametrize("n", [0, 1, 6, 7, 8, 50, 1_000])
def test_reference_answer_in_closed_form(n):
    assert stats.squares_mod7_sum(n) == sum(i * i % 7 for i in range(n))


def test_host_factor_scales_times_only():
    import report

    # the reference job took a median 0.2 s against a nominal 0.1 s: the
    # host ran at half speed, so the run's times are halved
    factor = stats.host_factor([0.3, 0.2, 0.1, 0.25, 0.15], 0.1)
    assert factor == pytest.approx(0.5)
    scaled = report.at_nominal_speed({"wall_s": 8.0, "setup_s": 4.0, "python_peak_rss_mb": 300.0}, factor)
    assert scaled == {"wall_s": 4.0, "setup_s": 2.0, "python_peak_rss_mb": 300.0}


def test_wall_counts_pass_zero_and_the_wall_passes_only():
    import report

    records = [{"key": k, "pass": p, "latency_s": t}
               for k, p, t in [("a", 0, 3.0), ("b", 0, 1.0), ("a", 1, 1.0), ("b", 1, 0.5),
                               ("a", 2, 0.9), ("b", 2, 0.4)] + [("c", 2, 0.1)] * 10]
    e2e, sample = report.end_to_end(5.0, records, 1, 100.0)
    assert e2e["wall_s"] == pytest.approx(5.5)
    assert e2e["cold_latency_p50_s"] == pytest.approx(2.0)
    assert sample["samples"] == 16


def test_tracer_self_times_nest():
    tr = spans.Tracer()
    with tr.span("outer"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            with tr.span("c"):
                pass
    outer, a, b, c = tr.spans
    assert (a.parent, b.parent, c.parent) == (0, 0, 2)
    own = tr.self_times()
    assert own[0] == pytest.approx((outer.end - outer.start) - (a.end - a.start) - (b.end - b.start))
    assert own[2] == pytest.approx((b.end - b.start) - (c.end - c.start))


def test_tracer_patches_by_name_imports_and_restores():
    import delta_unity_duckdb_spark.workload  # noqa: F401
    from delta_unity_duckdb_spark.scanner import Scanner
    from delta_unity_duckdb_spark.sources import tables
    from delta_unity_duckdb_spark.workload import llm

    original = tables.load_table
    assert llm.load_table is original
    tr = spans.Tracer()
    tr.install()
    try:
        assert llm.load_table is tables.load_table is not original
        assert Scanner.query.__wrapped__ is not None
        tr.install()  # installing twice must not wrap twice
        assert tables.load_table.__wrapped__ is original
    finally:
        tr.uninstall()
    assert llm.load_table is tables.load_table is original
    assert not hasattr(Scanner.query, "__wrapped__")


def _event(kind, **fields):
    return json.dumps({"Event": kind, **fields})


def test_eventlog_joins_jobs_stages_and_tasks_to_groups():
    metrics = {
        "Executor Run Time": 200, "Executor CPU Time": 1e8, "JVM GC Time": 10,
        "Result Size": 50, "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4,
        "Peak Execution Memory": 1000,
        "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 6},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
    }
    lines = [
        _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
               "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "op0"}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": metrics}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": metrics}),
        _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 3000}),
        # a later job lists stage 1 again but skips it; its tasks are its own stage 2
        _event("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 4000,
               "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "op1"}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": metrics}),
        _event("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 4500}),
    ]
    g = eventlog.parse(lines)
    op0, op1 = g["op0"], g["op1"]
    assert (op0["jobs"], op0["stages"], op0["tasks"]) == (1, 2, 2)
    assert (op1["jobs"], op1["stages"], op1["tasks"]) == (1, 1, 1)
    assert op0["job_intervals"] == [(1.0, 3.0)]
    assert op0["executor_run_s"] == pytest.approx(0.4)
    assert op0["executor_cpu_s"] == pytest.approx(0.2)
    assert op0["shuffle_read_bytes"] == 22 and op0["spill_bytes"] == 14
    assert op0["peak_execution_memory_bytes"] == 1000


def test_fixture_is_seeded_and_key_consistent(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    tables, sizes = fixture.write_fixture(7, str(a))
    fixture.write_fixture(7, str(b))
    fixture.write_fixture(8, str(c))
    for name in sizes:
        assert (a / f"{name}.parquet").read_bytes() == (b / f"{name}.parquet").read_bytes()
    assert (a / "lineitem.parquet").read_bytes() != (c / "lineitem.parquet").read_bytes()
    orders = set(tables["orders"]["o_orderkey"].to_pylist())
    assert set(tables["lineitem"]["l_orderkey"].to_pylist()) <= orders
    assert set(tables["orders"]["o_custkey"].to_pylist()) <= set(tables["customer"]["c_custkey"].to_pylist())
    assert set(tables["lineitem"]["l_partkey"].to_pylist()) <= set(tables["part"]["p_partkey"].to_pylist())
    for name, id_col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        assert sorted(tables[name][id_col].to_pylist()) == list(range(tables[name].num_rows))


def test_fixture_keeps_the_source_types():
    import pyarrow.parquet as pq

    tables = fixture.make_tables(5)
    for name, table in tables.items():
        assert table.schema.equals(pq.read_schema(os.path.join(fixture.SOURCE, f"{name}.parquet")))


def test_change_feed_keys_are_unique_and_bulk_passes_the_key_set_cap():
    tables = fixture.make_tables(3)
    feed = fixture.ChangeFeed(3, tables["orders"], tables["customer"])
    existing = set(tables["orders"]["o_orderkey"].to_pylist())
    small = feed.upsert(0, 240)
    bulk = feed.bulk(100_500)
    for batch in (small, bulk):
        keys = batch["o_orderkey"].to_pylist()
        assert len(keys) == len(set(keys))
    assert sum(k in existing for k in small["o_orderkey"].to_pylist()) == 180
    assert bulk.num_rows == 100_500
    batch = feed.customers(0, 50)
    assert len(set(batch["c_custkey"].to_pylist())) == batch.num_rows
