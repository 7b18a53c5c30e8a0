"""A warm call reuses what the first call built: the engine's session keeps
Spark's generated classes across calls (a codegen cache sized past one
pass's working set) and skips pyspark's per-call call-site capture. A
reused session that kept other static confs says so."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _curation_query_names() -> tuple[str, ...]:
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    try:
        from workloads import Curation
    finally:
        sys.path.remove(os.path.join(ROOT, "perfbench"))
    return Curation.QUERY_NAMES


def test_session_keeps_generated_code_and_skips_call_site_capture(spark):
    from pyspark.errors.utils import is_debugging_enabled

    from delta_unity_duckdb_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_warm_curation_pass_compiles_nothing(spark, sf_dir):
    from delta_unity_duckdb_spark.workload import QUERIES

    names = _curation_query_names()
    assert len(names) == 9
    timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        before = timer.getCount()
        for name in names:
            QUERIES[name](spark, sf_dir).toArrow()
        return timer.getCount() - before

    one_pass()
    assert one_pass() == 0


def test_reused_session_warns_about_static_confs_it_kept(spark, monkeypatch):
    import warnings

    from delta_unity_duckdb_spark import session as S

    def warnings_of_get_spark():
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            assert S.get_spark(master="local[8]") is spark
        return [str(w.message) for w in caught if "get_spark" in str(w.message)]

    assert warnings_of_get_spark() == []
    monkeypatch.setattr(S, "CODEGEN_CACHE_ENTRIES", 4097)
    (message,) = warnings_of_get_spark()
    assert "spark.sql.codegen.cache.maxEntries='4096' (wanted '4097')" in message
    assert message.count("=") == 1  # names no other conf
