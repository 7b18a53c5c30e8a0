"""Turn op records, spans, Spark event-log records and workload facts
into the metrics ``BENCHMARK.json`` names."""

from __future__ import annotations

from collections import defaultdict

import stats
from spans import OPERATOR_MODULES

SPAN_MEANS = {
    # metric: span name; mean seconds per call
    "tables.load_table_s": "tables.load_table",
    "scanner.query_s": "scanner.query",
    "scanner.count_s": "scanner.count",
    "scanner.schema_s": "scanner.schema",
    "scanner.materialize_s": "scanner.materialize",
    "workload.construct_s": "workload.construct",
    "workload.materialize_s": "workload.materialize",
    "delta_log.write_delta_s": "delta_log.write_delta",
    "delta_log.merge_delta_s": "delta_log.merge_delta",
    "delta_log.read_delta_s": "delta_log.read_delta",
    "delta_log.snapshot_s": "delta_log.snapshot",
    "delta_log.write_checkpoint_s": "delta_log.write_checkpoint",
    "delta_log.optimize_delta_s": "delta_log.optimize_delta",
    "scd2.sync_scd2_s": "scd2.sync_scd2",
}
SPARK_PER_OP = (
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "result_bytes",
)


def end_to_end(setup_s: float, records: list[dict], wall_passes: int, rss_mb: float) -> dict:
    """``records``: every op of the run, pass 0 being the cold pass.
    Latency percentiles cover every op, first-in-process calls included;
    ``wall_s`` is the workload's whole op list, pass 0 and its first
    ``wall_passes`` measured passes, as the sum of their ops' latencies.
    Times are as measured; ``at_nominal_speed`` scales them."""
    latencies = [r["latency_s"] for r in records]
    first: dict[str, float] = {}
    for r in records:
        if r["pass"] == 0:
            first.setdefault(r["key"], r["latency_s"])
    tail, pct = stats.tail(latencies)
    return {
        "setup_s": setup_s,
        "wall_s": sum(r["latency_s"] for r in records if r["pass"] <= wall_passes),
        "latency_p50_s": stats.median(latencies),
        "latency_tail_s": tail,
        "cold_latency_p50_s": stats.median(list(first.values())),
        "python_peak_rss_mb": rss_mb,
    }, {"samples": len(latencies), "tail_percentile": pct, "distinct_ops": len(first)}


def at_nominal_speed(e2e: dict, factor: float) -> dict:
    """Every time (``*_s``) times the run's host factor; other metrics
    as they are."""
    return {k: v * factor if k.endswith("_s") else v for k, v in e2e.items()}


def _safe(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer(tracer, records: list[dict], spark_groups: dict[str, dict], facts: dict,
              traced_walls: list[float], untraced_walls: list[float]) -> dict:
    """Layer metrics over the traced ops. Span times are means per call;
    operator and Spark figures are per traced op."""
    traced_ops = {r["idx"] for r in records if r["traced"]}
    n_ops = len(traced_ops)
    selfs = tracer.self_times()
    dur: dict[str, list[float]] = defaultdict(list)
    self_by_name: dict[str, float] = defaultdict(float)
    hits = []
    for s, own in zip(tracer.spans, selfs):
        if s.name == "session.get_spark":
            dur[s.name].append(s.end - s.start)
            continue
        if s.op not in traced_ops:
            continue
        dur[s.name].append(s.end - s.start)
        self_by_name[s.name] += own
        if s.name == "tables.load_table":
            hits.append(s.meta["hit"])

    out: dict[str, float] = {"session.get_spark_s": sum(dur["session.get_spark"])}
    for metric, name in SPAN_MEANS.items():
        out[metric] = _safe(sum(dur[name]), len(dur[name]))
    out["tables.relation_cache_hit_ratio"] = _safe(sum(hits), len(hits))
    construct = sum(dur["workload.construct"])
    out["workload.construct_share"] = _safe(construct, construct + sum(dur["workload.materialize"]))

    for mod in OPERATOR_MODULES:
        prefix = f"operators.{mod}."
        names = [n for n in dur if n.startswith(prefix)]
        out[f"operators.{mod}.self_s"] = _safe(sum(self_by_name[n] for n in names), n_ops)
        out[f"operators.{mod}.calls"] = _safe(sum(len(dur[n]) for n in names), n_ops)

    groups = [spark_groups.get(f"op{i}") for i in sorted(traced_ops)]
    groups = [g for g in groups if g is not None]
    for key in ("jobs", "stages", "tasks"):
        out[f"spark.{key}_per_op"] = _safe(sum(g[key] for g in groups), n_ops)
    for key in SPARK_PER_OP:
        out[f"spark.{key}"] = _safe(sum(g[key] for g in groups), n_ops)
    out["spark.peak_execution_memory_bytes"] = max(
        (g["peak_execution_memory_bytes"] for g in groups), default=0
    )
    out["spark.failed_tasks"] = facts["failed_tasks"]
    gaps = []
    for r in records:
        if r["idx"] in traced_ops:
            jobs = (spark_groups.get(f"op{r['idx']}") or {}).get("job_intervals", [])
            gaps.append(stats.driver_gap((r["start"], r["end"]), jobs))
    out["spark.driver_gap_s"] = _safe(sum(gaps), len(gaps))

    out["delta_log.snapshot_calls"] = _safe(len(dur["delta_log.snapshot"]), n_ops)
    merges = [r["facts"] for r in records if r["idx"] in traced_ops and r.get("facts")]
    rewritten = sum(m["rewritten"] for m in merges)
    skipped = sum(m["skipped"] for m in merges)
    out["delta_log.files_rewritten_per_merge"] = _safe(rewritten, len(merges))
    out["delta_log.merge_prune_ratio"] = _safe(skipped, rewritten + skipped)
    out["delta_log.bytes_written_per_changed_byte"] = _safe(
        sum(m["bytes_added"] for m in merges), sum(m["source_bytes"] for m in merges)
    )
    out["delta_log.stored_bytes_per_live_byte"] = facts.get("stored_bytes_per_live_byte", 0.0)
    sync_ops = {r["idx"]: r["rows"] for r in records if r["idx"] in traced_ops and r["rows"]}
    sync_s = sum(s.end - s.start for s in tracer.spans
                 if s.name == "scd2.sync_scd2" and s.op in sync_ops)
    out["scd2.rows_per_s"] = _safe(sum(sync_ops.values()), sync_s)
    out["spark.jvm_peak_rss_mb"] = facts["jvm_peak_rss_mb"]
    out["host.reference_s"] = facts["reference_s"]
    out["trace.overhead_s"] = stats.median(traced_walls) - stats.median(untraced_walls)
    return out
