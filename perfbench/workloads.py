"""The benchmark's workloads: seeded op lists and the expected result of
every op.

An op is one call into the program, timed from the call to the last byte
of its materialized result. ``pass_ops(i)`` returns the ops of pass
``i``; pass 0 runs every distinct op once, first in the process, and
gives the cold latencies. Checks run after the timed phase and compare
with DuckDB running on the same seeded input files.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from tests.oracle_harness import df_multiset

import fixture
from delta_unity_duckdb_spark.operators import scd2
from delta_unity_duckdb_spark.scanner import Scanner
from delta_unity_duckdb_spark.sources import delta_log
from delta_unity_duckdb_spark.workload import ORACLE, QUERIES


@dataclass
class Op:
    key: str  # identity of the distinct op; cold latency is per key
    run: Callable[[], object]  # the timed call, result materialized
    check: Callable[[object], str | None]  # None when the result is right
    rows: int = 0  # input rows, for ops whose layer reports a row rate
    facts: Callable[[object], dict] | None = None  # layer counts read off a checked result


@dataclass
class Ctx:
    spark: object
    seed: int
    fixture_dir: str
    work_dir: str
    tracer: object
    duck: object = None
    facts: dict = field(default_factory=dict)  # run-wide layer counts


def multiset(table: pa.Table) -> tuple[tuple[str, ...], Counter]:
    """Order-insensitive result identity with the repo's oracle
    normalization (full float precision)."""
    cols = table.column_names
    rows = [tuple(r[c] for c in cols) for r in table.to_pylist()]
    return tuple(sorted(cols)), df_multiset(rows, cols)


def duck_multiset(con, sql: str) -> tuple[tuple[str, ...], Counter]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return tuple(sorted(cols)), df_multiset(cur.fetchall(), cols)


def compare(got: pa.Table, want: tuple[tuple[str, ...], Counter]) -> str | None:
    cols, rows = multiset(got)
    if cols != want[0]:
        return f"columns {cols} != {want[0]}"
    if rows != want[1]:
        return f"rows differ ({sum(rows.values())} got, {sum(want[1].values())} expected)"
    return None


class Memo(dict):
    """Expected results computed on first use, after the timed phase."""

    def __init__(self, fn):
        super().__init__()
        self.fn = fn

    def __missing__(self, key):
        self[key] = value = self.fn(key)
        return value


# ------------------------------------------------------------------- scans
CENTS = "CAST(ROUND({} * 100) AS BIGINT)"

SCAN_SHAPES = {
    "lineitem": {
        "agg": "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "SUM(CAST(l_quantity AS BIGINT)) AS qty, "
        f"SUM({CENTS.format('l_extendedprice')}) AS price_cents, MAX(l_discount) AS max_disc "
        "FROM $TABLE WHERE l_shipdate < DATE '{day}' GROUP BY l_returnflag, l_linestatus",
        "topk": f"SELECT l_orderkey, SUM({CENTS.format('l_extendedprice * (1 - l_discount)')}) AS rev "
        "FROM $TABLE WHERE l_discount >= {disc} GROUP BY l_orderkey "
        "ORDER BY rev DESC, l_orderkey LIMIT {k}",
        "selfjoin": "SELECT a.l_returnflag, COUNT(*) AS pairs, "
        "SUM(CAST(a.l_quantity AS BIGINT) * CAST(b.l_quantity AS BIGINT)) AS qq "
        "FROM $TABLE a JOIN $TABLE b ON a.l_orderkey = b.l_orderkey "
        "AND a.l_linenumber < b.l_linenumber "
        "WHERE a.l_quantity > {qty} AND b.l_partkey % {mod} = {rem} GROUP BY a.l_returnflag",
        "window": "SELECT l_orderkey, l_linenumber, l_extendedprice, rn FROM ("
        "SELECT l_orderkey, l_linenumber, l_extendedprice, ROW_NUMBER() OVER ("
        "PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber) AS rn "
        "FROM $TABLE WHERE l_orderkey % {mod} = {rem}) w WHERE rn <= {n}",
        "distinct": "SELECT l_linestatus, COUNT(DISTINCT l_partkey) AS parts, "
        "COUNT(DISTINCT l_suppkey) AS supps, COUNT(DISTINCT l_orderkey) AS ords "
        "FROM $TABLE WHERE l_shipdate >= DATE '{day}' GROUP BY l_linestatus",
    },
    "orders": {
        "agg": "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n, "
        f"SUM({CENTS.format('o_totalprice')}) AS total_cents FROM $TABLE "
        "WHERE o_orderdate >= DATE '{day}' AND o_orderdate < DATE '{day2}' "
        "GROUP BY o_orderpriority, o_orderstatus",
        "topk": "SELECT o_custkey, COUNT(*) AS n, MAX(o_totalprice) AS top FROM $TABLE "
        "WHERE o_orderpriority <> '{prio}' GROUP BY o_custkey "
        "ORDER BY n DESC, top DESC, o_custkey LIMIT {k}",
        "selfjoin": "SELECT a.o_orderpriority, COUNT(*) AS pairs FROM $TABLE a JOIN $TABLE b "
        "ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey "
        "WHERE a.o_orderstatus = '{status}' AND b.o_totalprice > {price} "
        "GROUP BY a.o_orderpriority",
        "window": "SELECT o_custkey, o_orderkey, o_totalprice FROM ("
        "SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER() OVER ("
        "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
        "FROM $TABLE WHERE o_custkey % {mod} = {rem}) w WHERE rn <= {n}",
        "distinct": "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS custs, "
        "COUNT(DISTINCT o_orderpriority) AS prios FROM $TABLE "
        "WHERE o_totalprice > {price} GROUP BY o_orderstatus",
    },
    "events": {
        "selfjoin": "SELECT a.user_id % 10 AS bucket, COUNT(*) AS pairs FROM $TABLE a "
        "JOIN $TABLE b ON a.user_id = b.user_id AND b.ts > a.ts "
        "AND b.ts <= a.ts + INTERVAL 1 HOUR "
        "WHERE a.event_type = '{etype}' AND b.event_type = '{etype2}' GROUP BY a.user_id % 10",
    },
}


def _scan_constants(rng: np.random.Generator) -> dict:
    """Fresh constants for one pass. Each is drawn from a narrow band, so
    a seed changes which rows qualify but hardly how many: runs with
    different seeds do comparable work."""
    day = fixture.EPOCH_1995 // fixture.DAY_US + int(rng.integers(1100, 1300))
    d = dt.date(1970, 1, 1) + dt.timedelta(days=int(day))
    etypes = rng.permutation(fixture.EVENT_TYPES)
    return {
        "day": d.isoformat(),
        "day2": (d + dt.timedelta(days=int(rng.integers(180, 240)))).isoformat(),
        "disc": int(rng.integers(3, 6)) / 100,
        "k": int(rng.integers(20, 40)),
        "qty": int(rng.integers(20, 30)),
        "mod": int(rng.integers(8, 12)),
        "rem": int(rng.integers(0, 8)),
        "n": int(rng.integers(1, 4)),
        "prio": str(rng.choice(fixture.PRIORITIES)),
        "status": str(rng.choice(("F", "O", "P"))),
        "price": int(rng.integers(200_000, 260_000)),
        "etype": str(etypes[0]),
        "etype2": str(etypes[1]),
    }


class ScanOps:
    """Scanner calls: every SQL shape on lineitem and orders and the
    interval self-join on events, once per pass with fresh seeded
    constants, plus ``count`` and ``schema`` of each of the three."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.scanner = Scanner(ctx.spark, ctx.fixture_dir)
        path = {t: os.path.join(ctx.fixture_dir, f"{t}.parquet") for t in SCAN_SHAPES}
        self.duck_sql = lambda table, sql: sql.replace("$TABLE", f"read_parquet('{path[table]}')")
        self.expected = Memo(lambda q: duck_multiset(ctx.duck, self.duck_sql(*q)))
        self.schemas = {t: pq.read_schema(p).names for t, p in path.items()}

    def _sql_op(self, table: str, shape: str, sql: str) -> Op:
        tracer = self.ctx.tracer

        def run():
            df = self.scanner.query(table, sql)
            with tracer.span("scanner.materialize"):
                return df.toArrow()

        return Op(f"{shape}:{table}", run, lambda got: compare(got, self.expected[(table, sql)]))

    def _count_op(self, table: str) -> Op:
        def check(got):
            want = self.ctx.duck.execute(self.duck_sql(table, "SELECT COUNT(*) FROM $TABLE")).fetchone()[0]
            return None if got == want else f"count {got} != {want}"

        return Op(f"count:{table}", lambda: self.scanner.count(table), check)

    def _schema_op(self, table: str) -> Op:
        def check(got):
            names = [c["column_name"] for c in got]
            return None if names == self.schemas[table] else f"schema {names}"

        return Op(f"schema:{table}", lambda: self.scanner.schema(table), check)

    def pass_ops(self, i: int) -> list[Op]:
        rng = np.random.default_rng([self.ctx.seed, 3, i])
        ops = []
        for table, shapes in SCAN_SHAPES.items():
            ops.append(self._count_op(table))
            ops.append(self._schema_op(table))
            for shape, template in shapes.items():
                ops.append(self._sql_op(table, shape, template.format(**_scan_constants(rng))))
        return [ops[j] for j in rng.permutation(len(ops))]


# ---------------------------------------------------------------- curation
class Curation:
    """Registered curation queries through ``QUERIES``, each checked
    against its DuckDB ``ORACLE``. Together they reach every operator
    module the layer metrics name; at this size every regime probe picks
    the driver side."""

    name = "curation"
    wall_passes = 2  # measured passes in wall_s; with pass 0, 27 ops
    QUERY_NAMES = (
        "near_dup_clusters",  # dedup, graph.connected_components
        "hybrid_rrf_fusion",  # text, similarity
        "graph_kcore",  # graph
        "graph_triangles",  # graph kernel behind TRI_DRIVER_MAX_ROWS
        "kmeans_clusters",  # clustering
        "bpe_vocab_merges",  # bpe
        "hll_distinct_groups",  # sketches
        "bm25_topk",  # text
        "exact_span_dedup",  # dedup
    )

    def __init__(self, ctx: Ctx, tables: dict[str, pa.Table]):
        self.ctx = ctx
        self.expected = Memo(lambda name: duck_multiset(ctx.duck, ORACLE[name]))

    def _op(self, name: str) -> Op:
        tracer, spark, fx = self.ctx.tracer, self.ctx.spark, self.ctx.fixture_dir

        def run():
            with tracer.span("workload.construct"):
                df = QUERIES[name](spark, fx)
            with tracer.span("workload.materialize"):
                return df.toArrow()

        return Op(name, run, lambda got: compare(got, self.expected[name]))

    def pass_ops(self, i: int) -> list[Op]:
        return [self._op(n) for n in self.QUERY_NAMES]

    def final_check(self) -> list[tuple[str, str]]:
        return []


def same_table(got: pa.Table, want: pa.Table, key: str) -> str | None:
    """Exact row-for-row equality after sorting both sides by ``key``
    (vectorized; for results too large for ``multiset``)."""
    if sorted(got.column_names) != sorted(want.column_names):
        return f"columns {got.column_names} != {want.column_names}"
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows != {want.num_rows}"
    got, want = got.sort_by(key), want.sort_by(key)

    def norm(col: pa.ChunkedArray) -> pa.Array:
        col = col.combine_chunks()
        if pa.types.is_timestamp(col.type):
            return col.cast(pa.int64())
        if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
            return col.cast(pa.large_string())
        if pa.types.is_integer(col.type):
            return col.cast(pa.int64())
        return col

    for c in want.column_names:
        if not norm(got[c]).equals(norm(want[c])):
            return f"column {c} differs"
    return None


class DeltaOps:
    """Writes beside reads on one Delta table built from orders and
    range-clustered on ``o_orderkey``.

    Cold script: ``write_delta``, a small MERGE (exact key-set pruning),
    current, time-travel and data-skipping reads, one bulk MERGE past the
    100k key-set cap (min/max envelope pruning), another small MERGE,
    ``write_checkpoint``, ``optimize_delta``, and three SCD2 syncs of
    customer (initial load, then changes). Warm script, on the same table:
    two small MERGEs, the three reads and one SCD2 sync. With the first op
    of the process that makes thirteen ops of a second or more per run, so
    the latency tail (the 11th largest) falls among the small MERGEs
    rather than on the edge between the slow ops and the scans. Expected states are replayed in DuckDB as each op
    is built, one table per Delta version."""

    SMALL_ROWS = 240
    BULK_KEYS = 100_500  # past delta_log's 100k key-set cap
    SCD_ROWS = 150
    FILES = 8
    KEYS = ["o_orderkey"]
    TRACKED = ["c_nationkey", "c_acctbal", "c_mktsegment"]

    def __init__(self, ctx: Ctx, tables: dict[str, pa.Table]):
        self.ctx, self.duck = ctx, ctx.duck
        self.feed = fixture.ChangeFeed(ctx.seed, tables["orders"], tables["customer"])
        self.customer = tables["customer"].select(["c_custkey", *self.TRACKED])
        self.inputs = os.path.join(ctx.work_dir, "delta_inputs")
        os.makedirs(self.inputs)
        self.table = os.path.join(ctx.work_dir, "orders_delta")
        self.scd_path = os.path.join(ctx.work_dir, "customer_scd")
        self.orders_path = os.path.join(ctx.fixture_dir, "orders.parquet")
        self.duck.execute(f"CREATE TABLE v0 AS SELECT * FROM read_parquet('{self.orders_path}')")
        self.vtable = {0: "v0"}  # Delta version -> DuckDB table holding it
        self.version = 0
        self.scd: dict[int, tuple] = {}
        self.scd_total = 0
        self.syncs = 0
        self.rng = np.random.default_rng([ctx.seed, 4])
        n = tables["orders"].num_rows
        lo = int(self.rng.integers(0, n // 2))
        self.skip_range = (lo, lo + n // 10)

    def _input(self, table: pa.Table) -> str:
        path = os.path.join(self.inputs, f"in_{len(os.listdir(self.inputs))}.parquet")
        pq.write_table(table, path)
        return path

    # -- ops -------------------------------------------------------------
    def _write(self) -> Op:
        spark = self.ctx.spark

        def run():
            src = spark.read.parquet(self.orders_path)
            return delta_log.write_delta(
                src.repartitionByRange(self.FILES, *self.KEYS).sortWithinPartitions(*self.KEYS),
                self.table, mode="overwrite",
            )

        return Op("write_delta", run, lambda v: None if v == 0 else f"version {v}")

    def _merge(self, key: str, batch: pa.Table) -> Op:
        spark = self.ctx.spark
        path = self._input(batch)
        prev = self.vtable[self.version]
        matched = self.duck.execute(
            f"SELECT COUNT(*) FROM read_parquet('{path}') JOIN {prev} USING (o_orderkey)"
        ).fetchone()[0]
        self.version += 1
        version, cur = self.version, f"v{self.version}"
        self.duck.execute(
            f"CREATE TABLE {cur} AS SELECT * FROM {prev} WHERE o_orderkey NOT IN "
            f"(SELECT o_orderkey FROM read_parquet('{path}')) "
            f"UNION ALL SELECT * FROM read_parquet('{path}')"
        )
        self.vtable[version] = cur

        def run():
            return delta_log.merge_delta(spark.read.parquet(path), self.table, on=self.KEYS)

        def check(out):
            got = (out["version"], out["rows_matched"])
            return None if got == (version, matched) else f"(version, matched) {got} != {(version, matched)}"

        def facts(out):
            commit = os.path.join(self.table, "_delta_log", f"{out['version']:020d}.json")
            with open(commit) as fh:
                added = sum(a["add"]["size"] for a in map(json.loads, fh) if "add" in a)
            return {"rewritten": out["files_rewritten"], "skipped": out["files_skipped"],
                    "bytes_added": added, "source_bytes": os.path.getsize(path)}

        return Op(key, run, check, facts=facts)

    @staticmethod
    def _agg(df) -> pa.Table:
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
            F.sum("o_custkey").alias("cust_sum"),
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
        ).toArrow()

    def _expect_agg(self, version: int, where: str = ""):
        sql = (
            f"SELECT COUNT(*) AS n, SUM({CENTS.format('o_totalprice')}) AS cents, "
            f"SUM(o_custkey) AS cust_sum, MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi "
            f"FROM {self.vtable[version]} {where}"
        )
        return lambda got: compare(got, duck_multiset(self.duck, sql))

    def _read(self, kind: str) -> Op:
        spark, table = self.ctx.spark, self.table
        if kind == "current":
            return Op("read_current", lambda: self._agg(delta_log.read_delta(spark, table)),
                      self._expect_agg(self.version))
        if kind == "version":
            v = int(self.rng.integers(0, self.version))
            return Op("read_version",
                      lambda: self._agg(delta_log.read_delta(spark, table, version=v)),
                      self._expect_agg(v))
        lo, hi = self.skip_range
        flt = [("o_orderkey", ">=", lo), ("o_orderkey", "<", hi)]
        return Op("read_skip",
                  lambda: self._agg(delta_log.read_delta(spark, table, skip_filters=flt)),
                  self._expect_agg(self.version, f"WHERE o_orderkey >= {lo} AND o_orderkey < {hi}"))

    def _checkpoint(self) -> Op:
        spark, want = self.ctx.spark, self.version
        return Op("write_checkpoint", lambda: delta_log.write_checkpoint(spark, self.table),
                  lambda v: None if v == want else f"checkpoint version {v} != {want}")

    def _optimize(self) -> Op:
        spark = self.ctx.spark
        self.vtable[self.version + 1] = self.vtable[self.version]
        self.version += 1
        want = self.version
        return Op("optimize_delta",
                  lambda: delta_log.optimize_delta(spark, self.table, sort_by=self.KEYS),
                  lambda out: None if out["version"] == want else f"optimize version {out['version']}")

    def _sync(self, batch: pa.Table) -> Op:
        spark = self.ctx.spark
        path = self._input(batch)
        for r in batch.to_pylist():
            row = tuple(r[c] for c in self.TRACKED)
            old = self.scd.get(r["c_custkey"])
            if old != row:
                self.scd_total += 1
                self.scd[r["c_custkey"]] = row
        want = (self.scd_total, len(self.scd))
        ts = dt.datetime(2024, 1, 1) + dt.timedelta(days=self.syncs)
        self.syncs += 1

        def run():
            return scd2.sync_scd2(spark, spark.read.parquet(path), self.scd_path, ["c_custkey"],
                                  self.TRACKED, effective_ts=F.lit(ts).cast("timestamp"))

        def check(out):
            got = (out["total_rows"], out["current_rows"])
            return None if got == want else f"scd2 (total, current) {got} != {want}"

        return Op("sync_scd2", run, check, rows=batch.num_rows)

    def cold_ops(self) -> list[Op]:
        feed = self.feed
        ops = [self._write(), self._merge("merge_small", feed.upsert(0, self.SMALL_ROWS))]
        ops += [self._read(k) for k in ("current", "version", "skip")]
        ops.append(self._merge("merge_bulk", feed.bulk(self.BULK_KEYS)))
        ops.append(self._merge("merge_small", feed.upsert(1, self.SMALL_ROWS)))
        ops += [self._checkpoint(), self._optimize(), self._sync(self.customer)]
        ops += [self._sync(feed.customers(j, self.SCD_ROWS)) for j in (0, 1)]
        return ops

    def warm_ops(self, i: int) -> list[Op]:
        return [
            self._merge("merge_small", self.feed.upsert(2 * i, self.SMALL_ROWS)),
            self._read("current"),
            self._merge("merge_small", self.feed.upsert(2 * i + 1, self.SMALL_ROWS)),
            self._read("version"),
            self._read("skip"),
            self._sync(self.feed.customers(i + 1, self.SCD_ROWS)),
        ]

    def final_check(self) -> list[tuple[str, str]]:
        """The table's last state against DuckDB's replay, and the SCD2
        target against the expected current rows and its invariants."""
        spark = self.ctx.spark
        bad = []
        want = self.duck.execute(f"SELECT * FROM {self.vtable[self.version]}").arrow()
        why = same_table(delta_log.read_delta(spark, self.table).toArrow(), want, "o_orderkey")
        if why:
            bad.append(("final_delta_state", why))
        # Stored bytes per live byte: the table directory against the data
        # files of the current snapshot.
        live = sum(int(a["size"]) for a in delta_log.snapshot(spark, self.table).adds.values())
        stored = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.table) for f in fs)
        self.ctx.facts["stored_bytes_per_live_byte"] = stored / live
        scd = spark.read.parquet(self.scd_path)
        violations = {k: v for k, v in scd2.scd2_invariant_violations(scd, ["c_custkey"]).items() if v}
        if violations:
            bad.append(("final_scd2_invariants", str(violations)))
        rows = scd.filter(F.col("is_current")).select("c_custkey", *self.TRACKED).collect()
        if Counter(tuple(r) for r in rows) != Counter((k, *v) for k, v in self.scd.items()):
            bad.append(("final_scd2_state", "current rows differ from the expected"))
        return bad


def _interleave(rng: np.random.Generator, a: list[Op], b: list[Op]) -> list[Op]:
    """Seeded merge of two op lists, each keeping its own order."""
    ia, ib = iter(a), iter(b)
    return [next(ib) if s else next(ia) for s in rng.permutation([0] * len(a) + [1] * len(b))]


class Lakehouse:
    """Scanner SQL reads beside Delta writes, one client: every pass mixes
    the scan ops with the Delta script (cold script in pass 0)."""

    name = "lakehouse"
    wall_passes = 1  # measured passes in wall_s; with pass 0, 52 ops

    def __init__(self, ctx: Ctx, tables: dict[str, pa.Table]):
        self.ctx = ctx
        self.scan = ScanOps(ctx)
        self.delta = DeltaOps(ctx, tables)

    def pass_ops(self, i: int) -> list[Op]:
        delta = self.delta.cold_ops() if i == 0 else self.delta.warm_ops(i)
        return _interleave(np.random.default_rng([self.ctx.seed, 6, i]), self.scan.pass_ops(i), delta)

    def final_check(self) -> list[tuple[str, str]]:
        return self.delta.final_check()


WORKLOADS = {w.name: w for w in (Lakehouse, Curation)}
