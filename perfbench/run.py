"""Benchmark entry point, run from the root of a checkout:

    python3 perfbench/run.py --workload lakehouse --seed 1 --seconds 5 --trace 0

One process, one client, a closed loop: each op starts when the previous
one has returned its materialized result. The run builds the engine's
SparkSession (``local[nproc]`` unless ``SPARK_GRAFT_CPUS`` says
otherwise), derives its inputs from ``--seed``, runs pass 0 (every
distinct op once, cold), then whole passes until ``--seconds`` have
passed, checks every op's result against DuckDB, and prints one JSON
object as the last line of stdout. Between ops, at most every
``REF_EVERY_S``, it times a fixed reference Spark job that calls no
program code; the end-to-end times are stated at the host speed where
that job takes ``REF_NOMINAL_S`` (see ``Reference``). ``--trace 1``
adds span wrappers and Spark's event log and reports per-layer metrics
instead; its measured passes alternate untraced and traced (at least
untraced, traced, untraced), and the difference of their median wall
times is the tracing overhead.

Everything the run writes stays under ``.perfbench/`` in the checkout;
the per-run directory (inputs, Delta tables, ``TMPDIR``, Spark local
dirs, event log) is removed on exit. Spans go to ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "delta_unity_duckdb_spark"

REF_ROWS = 5_000_000
REF_NOMINAL_S = 0.100  # the reference job's typical median on a 4-vCPU Xeon VM
REF_EVERY_S = 1.5
REF_WARMUP = 3


def since_process_start() -> float:
    """Seconds from this process's start to now (``/proc`` clock ticks
    for the part before the interpreter ran this file)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime_at_t0 = float(fh.read().split()[0]) - (time.perf_counter() - T0)
    before = max(0.0, uptime_at_t0 - start_ticks / os.sysconf("SC_CLK_TCK"))
    return before + time.perf_counter() - T0


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def reset_hwm(pid: int | str) -> None:
    """Restart the process's peak-RSS count from its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("lakehouse", "curation"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(run_dir: str, trace: bool) -> None:
    """Point every temp location at the run directory, before the JVM or
    any ``tempfile`` user starts. The event log is switched on here, from
    outside the program, only for traced runs."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    tempfile.tempdir = None
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    conf = [
        "--driver-java-options", java_opts,
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    import shlex

    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(conf + ["pyspark-shell"])


def posture(cpu0: list[int], cpu1: list[int], spark) -> dict:
    delta = [b - a for a, b in zip(cpu0, cpu1)]
    return {
        "steal_share": delta[7] / sum(delta) if sum(delta) else 0.0,
        "loadavg": os.getloadavg(),
        "nproc": os.cpu_count(),
        "spark_version": spark.version,
        "master": spark.sparkContext.master,
        **{k: os.environ.get(k) for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_AQE", "SPARK_GRAFT_SHUFFLE")},
    }


class Reference:
    """A fixed Spark job that calls no program code: ``sum(id * id % 7)``
    over ``REF_ROWS`` rows in one task per core. The host is a shared VM
    whose speed drifts by 1.5x and more over minutes (CPU steal, busy
    neighbours), which moves every time a run measures; the job's median
    time over the run tracks that drift, and the end-to-end times are
    scaled by ``REF_NOMINAL_S`` over it. It runs between ops, outside
    every op's timing and job group."""

    def __init__(self, spark):
        import stats

        self.spark, self.times, self.last = spark, [], float("-inf")
        self.want = stats.squares_mod7_sum(REF_ROWS)
        self.parts = spark.sparkContext.defaultParallelism
        for _ in range(REF_WARMUP):
            self._time()
        self.times.clear()

    def maybe(self) -> None:
        if time.perf_counter() - self.last >= REF_EVERY_S:
            self._time()

    def _time(self) -> None:
        t0 = time.perf_counter()
        got = (self.spark.range(0, REF_ROWS, 1, self.parts)
               .selectExpr("sum(id * id % 7) AS s").collect()[0]["s"])
        self.last = time.perf_counter()
        if got != self.want:
            raise RuntimeError(f"reference job returned {got}, not {self.want}")
        self.times.append(self.last - t0)


class Runner:
    def __init__(self, spark, tracer, trace: bool):
        self.spark, self.sc, self.tracer, self.trace = spark, spark.sparkContext, tracer, trace
        self.reference = Reference(spark)
        self.records: list[dict] = []
        self.results: list[object] = []
        self.ops: list = []

    def run_pass(self, ops, number: int, traced: bool) -> float:
        """Run the ops in order; the pass's wall time is the sum of their
        latencies (the reference job between them is not part of it)."""
        if self.trace:
            self.tracer.install() if traced else self.tracer.uninstall()
        wall = 0.0
        for op in ops:
            self.reference.maybe()
            idx = len(self.records)
            self.sc.setJobGroup(f"op{idx}", op.key)
            self.tracer.op = idx
            start, t0, err, res = time.time(), time.perf_counter(), None, None
            try:
                with self.tracer.span("op", key=op.key):
                    res = op.run()
            except Exception:  # an op that raises is a failed op, not a failed run
                err = traceback.format_exc(limit=3)
            latency = time.perf_counter() - t0
            wall += latency
            self.tracer.op = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.records.append({"idx": idx, "key": op.key, "pass": number, "latency_s": latency,
                                 "start": start, "end": time.time(), "traced": traced, "error": err,
                                 "rows": op.rows})
            self.results.append(res)
            self.ops.append(op)
        return wall

    def check(self, workload) -> list[dict]:
        """Check every op's result, then the workload's final state;
        failures carry the op name and why."""
        if self.trace:
            self.tracer.uninstall()
        failures = []
        for rec, op, res in zip(self.records, self.ops, self.results):
            why = rec["error"]
            if why is None:
                try:
                    why = op.check(res)
                    if why is None and op.facts:
                        rec["facts"] = op.facts(res)
                except Exception:
                    why = traceback.format_exc(limit=3)
            if why is not None:
                failures.append({"op": rec["key"], "pass": rec["pass"], "why": why})
        for name, why in workload.final_check():
            failures.append({"op": name, "pass": None, "why": why})
        return failures

    def failed_tasks(self) -> int:
        """Failed task attempts in the ops' jobs, from the status tracker
        (task failures Spark retried past are otherwise only in stderr)."""
        tracker = self.sc.statusTracker()
        total = 0
        for rec in self.records:
            for jid in tracker.getJobIdsForGroup(f"op{rec['idx']}"):
                job = tracker.getJobInfo(jid)
                for sid in job.stageIds if job else ():
                    stage = tracker.getStageInfo(sid)
                    total += stage.numFailedTasks if stage else 0
        return total


class NullTracer:
    """Stands in for ``spans.Tracer`` when tracing is off."""

    op = None

    def span(self, name, **meta):
        return nullcontext()


def run(args, run_dir: str) -> dict:
    sys.path.insert(0, HERE)
    sys.path.insert(0, os.getcwd())
    cpu0 = cpu_times()
    import report
    import spans
    import stats

    tracer = spans.Tracer() if args.trace else NullTracer()

    # -- set-up: package import, session, one warm-up action ---------------
    import delta_unity_duckdb_spark.workload  # noqa: F401  (registers QUERIES)
    from delta_unity_duckdb_spark import session

    if args.trace:
        tracer.install()
    spark = session.get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    warm = spark.range(100_000).selectExpr("sum(id) AS s").collect()[0]["s"]
    if warm != 4_999_950_000:
        raise RuntimeError(f"warm-up returned {warm}")
    setup_s = since_process_start()

    # -- inputs (untimed) ---------------------------------------------------
    import fixture
    import workloads

    cls = workloads.WORKLOADS[args.workload]
    t_prep = time.perf_counter()
    fx_dir = os.path.join(run_dir, "fixture")
    tables, sizes = fixture.write_fixture(args.seed, fx_dir)
    from tests.oracle_harness import duck_connection

    duck = duck_connection(fx_dir)
    duck.execute(f"SET temp_directory = '{os.path.join(run_dir, 'duckdb')}'")
    ctx = workloads.Ctx(spark, args.seed, fx_dir, os.path.join(run_dir, "work"), tracer, duck)
    os.makedirs(ctx.work_dir)
    wl = cls(ctx, tables)
    prep_s = time.perf_counter() - t_prep

    # -- cold pass, then measured passes ----------------------------------------
    runner = Runner(spark, tracer, bool(args.trace))
    jvm_pid = spark.sparkContext._gateway.proc.pid
    for pid in ("self", jvm_pid):
        reset_hwm(pid)
    cold_s = runner.run_pass(wl.pass_ops(0), 0, traced=bool(args.trace))
    walls: dict[bool, list[float]] = {False: [], True: []}
    t_start = time.perf_counter()
    number = 1
    while True:
        traced = bool(args.trace) and number % 2 == 0
        walls[traced].append(runner.run_pass(wl.pass_ops(number), number, traced))
        number += 1
        # Stop once the time is up, the passes wall_s counts have run and
        # the sample puts the tail at or above the median. A traced run also
        # needs an untraced pass on each side of a traced one, so warm-up
        # drift cancels out of the overhead.
        done = (
            time.perf_counter() - t_start >= args.seconds
            and len(runner.records) >= stats.MIN_SAMPLES
            and number > cls.wall_passes
            and (not args.trace or (walls[True] and len(walls[False]) >= 2))
        )
        if done:
            break
    measured_s = time.perf_counter() - t_start

    rss = {"python_peak_rss_mb": vm_hwm_mb("self"), "jvm_peak_rss_mb": vm_hwm_mb(jvm_pid)}
    ref_times = runner.reference.times
    factor = stats.host_factor(ref_times, REF_NOMINAL_S)
    ctx.facts.update(jvm_peak_rss_mb=rss["jvm_peak_rss_mb"], reference_s=stats.median(ref_times))
    t_check = time.perf_counter()
    failures = runner.check(wl)
    failed_tasks = ctx.facts["failed_tasks"] = runner.failed_tasks()
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "prep_s": prep_s, "cold_s": cold_s, "measured_s": measured_s, "passes": number - 1,
        "check_s": time.perf_counter() - t_check,
        "fixture": sizes, "failed_tasks": failed_tasks, **rss,
        "reference": {"runs": len(ref_times), "median_s": stats.median(ref_times),
                      "nominal_s": REF_NOMINAL_S, "host_factor": factor,
                      "times_s": [round(t, 4) for t in ref_times]},
        "failures": failures[:20], "posture": posture(cpu0, cpu_times(), spark),
    }
    raw, sample = report.end_to_end(setup_s, runner.records, cls.wall_passes, rss["python_peak_rss_mb"])
    e2e = report.at_nominal_speed(raw, factor)
    info.update(sample)
    by_key: dict[str, list[float]] = {}
    for r in runner.records:
        by_key.setdefault(r["key"], []).append(r["latency_s"])
    info["op_latency_s"] = {k: [round(x, 4) for x in v] for k, v in by_key.items()}

    result = {
        "correct": not failures,
        "attempted": len(runner.records),
        "failed": len(failures),
    }
    if args.trace:
        layers = finish_trace(spark, run_dir, tracer, runner, ctx.facts, walls, args)
        result["metrics"] = metric_block(layers, "per_layer")
    else:
        result["metrics"] = metric_block(e2e, "end_to_end")
    info["error_rate"] = result["failed"] / result["attempted"]
    info["end_to_end"] = e2e
    info["end_to_end_as_measured"] = raw
    print("# info " + json.dumps(info, default=str))
    return result


def finish_trace(spark, run_dir, tracer, runner, facts, walls, args) -> dict:
    import eventlog
    import report

    stop_spark()  # finishes the event log
    log_dir = os.path.join(run_dir, "eventlog")
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(logs) != 1 or logs[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log, found {logs}")
    groups = eventlog.parse_file(logs[0])
    layers = report.per_layer(tracer, runner.records, groups, facts, walls[True], walls[False])
    out_dir = os.path.join(os.getcwd(), ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"), "w") as fh:
        json.dump({"spans": tracer.dump(), "ops": runner.records, "layers": layers}, fh)
    return layers


def metric_block(values: dict, section: str) -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)[section]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def stop_spark() -> None:
    """Stop Spark, if started, and wait for the JVM and its Python workers
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"no {PACKAGE} package under {root}: run from the repository root",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(root, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        isolate(run_dir, bool(args.trace))
        result = run(args, run_dir)
    finally:
        stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
