"""Minimal Delta Lake transaction-log reader/writer (no delta-spark).

The reference's core capability is reading Delta tables WITHOUT the heavy
runtime that normally owns them — DuckDB's ``delta_scan`` instead of a
Databricks cluster (delta-unity-duckdb.js:327-343). This module is the
same move on Spark: when ``delta-spark`` is absent, read a Delta table by
replaying its transaction log directly (public protocol:
https://github.com/delta-io/delta/blob/master/PROTOCOL.md) and hand the
resulting file list to the ordinary parquet reader — so Catalyst still
sees a plain parquet relation with full pushdown/pruning.

Supported: JSON commits, parquet checkpoints (`_last_checkpoint`),
add/remove reconciliation, schemaString → StructType, partition-column
recovery from ``partitionValues``, time travel (``version=``), and one
commit path shared by every writing operation (``_commit``: a fully
written temp file published as the next ``N.json`` with ``os.link``,
which fails if that version exists). A commit that loses the version
race moves to the next version only when it is a blind append (a plain
write that adds files and nothing else) and none of the commits it lost
to carries ``metaData`` or ``protocol``; any other lost race raises
``DeltaProtocolError`` (Delta's conflict rule for a blind append;
everything else read a snapshot that is now stale).
Unsupported (explicitly refused, not silently wrong): deletion vectors,
column mapping, reader version > 2.

Scale posture: log replay touches ONLY the log (KBs per commit; the
checkpoint bounds replay length) — never data files — and runs on the
driver with no Spark job (pyarrow writes and reads checkpoints). The
data read is a normal parquet scan over the active file set, so
predicate pushdown, column pruning, and split planning are unchanged.
Partition values ride per-file constant columns via a UNION of
per-partition reads grouped by partition tuple — each branch is one
pruned parquet relation.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Collection, Iterator, Sequence
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_COMMIT_DIGITS = 20

# Data-skipping operators understood by ``read_delta(skip_filters=…)``.
_SKIP_OPS = ("=", "!=", "<", "<=", ">", ">=")


class DeltaProtocolError(RuntimeError):
    """Table uses a Delta feature this minimal reader refuses to guess at."""


def _commit_path(log_dir: str, version: int) -> str:
    return os.path.join(log_dir, f"{version:0{_COMMIT_DIGITS}d}.json")


def _list_commit_versions(log_dir: str) -> list[int]:
    if not os.path.isdir(log_dir):
        return []
    out = []
    for f in os.listdir(log_dir):
        base = f.split(".")[0]
        if f.endswith(".json") and base.isdigit() and len(base) == _COMMIT_DIGITS:
            out.append(int(base))
    return sorted(out)


def _checkpoint_version(log_dir: str) -> int:
    """Version named by ``_last_checkpoint``; -1 when there is none."""
    path = os.path.join(log_dir, "_last_checkpoint")
    if not os.path.exists(path):
        return -1
    with open(path) as fh:
        return json.load(fh)["version"]


def _latest_version(log_dir: str) -> int:
    """Latest version of the log: its newest JSON commit or, for a table
    whose commits were cleaned up after a checkpoint, the checkpoint;
    -1 for an empty or missing log."""
    versions = _list_commit_versions(log_dir)
    return max(versions[-1] if versions else -1, _checkpoint_version(log_dir))


def _read_commit(log_dir: str, version: int) -> Iterator[dict]:
    """The actions of commit ``version``, in file order, parsed one line
    at a time so a caller that finds what it needs can stop early."""
    try:
        fh = open(_commit_path(log_dir, version))
    except FileNotFoundError:
        raise FileNotFoundError(f"missing commit {version} in {log_dir}") from None
    with fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def _file_stats_json(path: str) -> str | None:
    """Per-file Delta stats (numRecords/minValues/maxValues/nullCount) from
    the parquet FOOTER only — no data pages are read, so cost is O(files),
    not O(bytes): the same reason real Delta writers emit stats at write
    time, this stays viable at 100 TB (a footer is ~KBs regardless of file
    size). Columns whose chunks lack statistics (or carry types we don't
    normalize) are simply omitted — skipping is advisory, absence is safe.
    """
    try:
        import pyarrow.parquet as pq
    except Exception:  # pragma: no cover - pyarrow is baked in
        return None
    try:
        meta = pq.ParquetFile(path).metadata
    except Exception:
        return None

    import datetime
    import math

    def norm(v):
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, bool) or isinstance(v, int) or isinstance(v, str):
            return v
        if isinstance(v, float):
            return v if math.isfinite(v) else None
        if isinstance(v, datetime.datetime):
            return v.isoformat(sep="T", timespec="microseconds")
        if isinstance(v, datetime.date):
            return v.isoformat()
        return None

    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    nulls: dict[str, int] = {}
    dropped: set[str] = set()
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            chunk = group.column(ci)
            name = chunk.path_in_schema
            if "." in name or name in dropped:  # nested leaves: skip
                continue
            st = chunk.statistics
            if st is None or not st.has_min_max:
                dropped.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                nulls.pop(name, None)
                continue
            lo, hi = norm(st.min), norm(st.max)
            if lo is None or hi is None:
                dropped.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                nulls.pop(name, None)
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
            nc = st.null_count if st.has_null_count else 0
            nulls[name] = nulls.get(name, 0) + int(nc or 0)
    return json.dumps(
        {
            "numRecords": meta.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        },
        separators=(",", ":"),
        default=str,
    )


def _coerce_like(stat_value, filter_value):
    """Bring a JSON-round-tripped stat value into the filter value's domain
    for ordering comparisons; None = not comparable (skip conservatively)."""
    import datetime

    if isinstance(filter_value, datetime.datetime) and isinstance(stat_value, str):
        try:
            parsed = datetime.datetime.fromisoformat(stat_value)
        except ValueError:
            return None
        # Align tz-awareness or the comparison raises (and skips nothing).
        # The engine session is pinned to UTC (session.py), so naive values
        # ARE UTC instants.
        if parsed.tzinfo is not None and filter_value.tzinfo is None:
            parsed = parsed.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        elif parsed.tzinfo is None and filter_value.tzinfo is not None:
            parsed = parsed.replace(tzinfo=datetime.timezone.utc)
        return parsed
    if isinstance(filter_value, datetime.date) and isinstance(stat_value, str):
        try:
            return datetime.date.fromisoformat(stat_value[:10])
        except ValueError:
            return None
    if isinstance(filter_value, bool) or isinstance(stat_value, bool):
        return stat_value if isinstance(stat_value, bool) else None
    if isinstance(filter_value, (int, float)):
        return stat_value if isinstance(stat_value, (int, float)) else None
    if isinstance(filter_value, str):
        return stat_value if isinstance(stat_value, str) else None
    return None


def _file_may_match(
    add: dict, col: str, op: str, value, part_cols: list[str]
) -> bool:
    """Can the file possibly contain a row satisfying ``col op value``?
    True unless the file's metadata PROVES otherwise (conservative)."""
    if op not in _SKIP_OPS:
        return True
    if col in part_cols:
        raw = (add.get("partitionValues") or {}).get(col)
        if raw is None:
            return op in ("=", "!=") and value is None
        cast = _coerce_like(raw, value)
        if cast is None and isinstance(value, (int, float)):
            try:
                cast = type(value)(raw) if not isinstance(value, bool) else None
            except (TypeError, ValueError):
                cast = None
        if cast is None:
            return True
        lo = hi = cast
    else:
        stats = add.get("stats")
        if not stats:
            return True
        try:
            parsed = json.loads(stats) if isinstance(stats, str) else stats
        except (TypeError, ValueError):
            return True
        lo = _coerce_like(parsed.get("minValues", {}).get(col), value)
        hi = _coerce_like(parsed.get("maxValues", {}).get(col), value)
        if lo is None or hi is None:
            return True
    try:
        if op == "=":
            return lo <= value <= hi
        if op == "!=":
            return not (lo == value == hi)
        if op == "<":
            return lo < value
        if op == "<=":
            return lo <= value
        if op == ">":
            return hi > value
        if op == ">=":
            return hi >= value
    except TypeError:
        return True
    return True


def prune_adds(
    adds: dict[str, dict],
    filters: list[tuple[str, str, object]],
    part_cols: list[str],
) -> dict[str, dict]:
    """File-level data skipping: drop files whose stats / partition values
    prove no row can satisfy ALL of ``filters`` (an AND of simple
    predicates). At cluster scale this is the difference between planning
    over every file of a 100 TB table and over the handful whose min/max
    ranges overlap the predicate — the log alone decides, no data IO."""
    return {
        p: a
        for p, a in adds.items()
        if all(_file_may_match(a, c, op, v, part_cols) for c, op, v in filters)
    }


class DeltaSnapshot:
    """Reconciled state of a Delta table at one version."""

    def __init__(self, table_path: str, version: int):
        self.table_path = table_path
        self.version = version
        self.metadata: dict | None = None
        self.protocol: dict | None = None
        self.adds: dict[str, dict] = {}  # path -> add action

    @property
    def schema(self) -> StructType:
        assert self.metadata is not None, "log contained no metaData action"
        return StructType.fromJson(json.loads(self.metadata["schemaString"]))

    @property
    def partition_columns(self) -> list[str]:
        assert self.metadata is not None
        return list(self.metadata.get("partitionColumns") or [])

    def file_paths(self) -> list[str]:
        return [os.path.join(self.table_path, p) for p in sorted(self.adds)]

    def _apply(self, action: dict) -> None:
        if "metaData" in action:
            self.metadata = action["metaData"]
        elif "protocol" in action:
            self.protocol = action["protocol"]
            if self.protocol.get("minReaderVersion", 1) > 2:
                raise DeltaProtocolError(
                    f"minReaderVersion={self.protocol['minReaderVersion']} > 2"
                )
            for feat in self.protocol.get("readerFeatures") or []:
                if feat in ("deletionVectors", "columnMapping", "v2Checkpoint"):
                    raise DeltaProtocolError(f"unsupported reader feature: {feat}")
        elif "add" in action:
            add = action["add"]
            if add.get("deletionVector"):
                raise DeltaProtocolError("file carries a deletion vector")
            self.adds[add["path"]] = add
        elif "remove" in action:
            self.adds.pop(action["remove"]["path"], None)
        # commitInfo / txn / cdc: no effect on the active file set


def _arrow_to_py(value, typ):
    """A pyarrow ``to_pylist`` value as plain Python, by its Arrow type:
    MAP values arrive as lists of (key, value) tuples and become dicts
    (an empty map becomes ``{}``), at any nesting depth."""
    import pyarrow as pa

    if value is None:
        return None
    if pa.types.is_map(typ):
        return {k: _arrow_to_py(v, typ.item_type) for k, v in value}
    if pa.types.is_struct(typ):
        return {f.name: _arrow_to_py(value.get(f.name), f.type) for f in typ}
    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        return [_arrow_to_py(v, typ.value_type) for v in value]
    return value


def _load_checkpoint(log_dir: str, version: int, snap: DeltaSnapshot) -> None:
    """Fold a parquet checkpoint (complete state at ``version``) into snap,
    read with pyarrow on the driver: the checkpoint is log metadata, never
    data, so no Spark job. Reads checkpoints from any writer, extra action
    columns (txn, commitInfo, …) included."""
    import pyarrow.parquet as pq

    path = os.path.join(
        log_dir, f"{version:0{_COMMIT_DIGITS}d}.checkpoint.parquet"
    )
    table = pq.read_table(path)
    keys = [k for k in ("protocol", "metaData", "add", "remove") if k in table.column_names]
    columns = {
        k: [_arrow_to_py(v, table.schema.field(k).type) for v in table.column(k).to_pylist()]
        for k in keys
    }
    # Checkpoints store one action per row in struct columns; replay order
    # inside a checkpoint is irrelevant (it is already reconciled state),
    # but metaData/protocol must land before being read.
    for i in range(table.num_rows):
        for key in keys:
            sub = columns[key][i]
            # a checkpoint row holds ONE action; the other struct columns
            # are null — which some writers serialize as all-null structs
            if sub is not None and any(v is not None for v in sub.values()):
                snap._apply({key: sub})


def snapshot(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DeltaSnapshot:
    """Replay the log to ``version`` (default: latest)."""
    log_dir = os.path.join(table_path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a Delta table (no _delta_log): {table_path}")
    if version is None:
        version = table_version(table_path)
    ckpt_version = _checkpoint_version(log_dir)
    if ckpt_version > version:
        ckpt_version = -1

    snap = DeltaSnapshot(table_path, version)
    if ckpt_version >= 0:
        _load_checkpoint(log_dir, ckpt_version, snap)
    for v in range(ckpt_version + 1, version + 1):
        for action in _read_commit(log_dir, v):
            snap._apply(action)
    return snap


def version_at_timestamp(table_path: str, ts) -> int:
    """Resolve ``TIMESTAMP AS OF`` to a version: the LAST commit whose
    commitInfo timestamp is <= ``ts`` (Delta's semantics — you read the
    table as it was at that wall-clock moment). ``ts`` is epoch
    milliseconds (int) or a ``datetime``. Raises if ``ts`` predates the
    first available commit (same contract as Delta Lake)."""
    import datetime as _dt

    if isinstance(ts, _dt.datetime):
        ts = int(ts.timestamp() * 1000)
    log_dir = os.path.join(table_path, "_delta_log")
    versions = _list_commit_versions(log_dir)
    if not versions:
        raise FileNotFoundError(f"no commits in {log_dir}")
    best: int | None = None
    prev_effective: int | None = None
    for v in versions:
        # external Delta writers are not required to put commitInfo
        # first — scan every action of the commit for it
        info = next((a["commitInfo"] for a in _read_commit(log_dir, v) if "commitInfo" in a), {})
        commit_ts = info.get("timestamp")
        if commit_ts is None:
            commit_ts = int(os.path.getmtime(_commit_path(log_dir, v)) * 1000)
        # Delta's monotonicity adjustment: writer clock skew can emit
        # out-of-order commitInfo timestamps; the effective timestamp of a
        # version is clamped to be >= its predecessor's so the
        # version-by-timestamp mapping stays well ordered
        if prev_effective is not None and commit_ts < prev_effective:
            commit_ts = prev_effective
        prev_effective = commit_ts
        if commit_ts <= ts:
            best = v
        else:
            break
    if best is None:
        raise ValueError(
            f"timestamp {ts} predates the first commit of {table_path}"
        )
    return best


def read_delta(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    skip_filters: list[tuple[str, str, object]] | None = None,
    timestamp=None,
) -> DataFrame:
    """Read a Delta table as a DataFrame by direct log replay.

    Partitioned tables: data files do not store partition columns — the
    values live in each add action's ``partitionValues``. Files are
    grouped by partition tuple; each group becomes one parquet relation
    with the partition values attached as typed literal columns, and the
    groups union. Filters on partition columns therefore constant-fold
    per branch (Catalyst prunes whole branches — the same file-skipping
    effect as catalog partition pruning).

    ``skip_filters`` — an AND-list of ``(column, op, value)`` with op in
    ``= != < <= > >=`` — applies log-level data skipping (per-file
    min/max/partition stats) before the scan is even planned, then
    re-applies the same predicates as real row filters on the result, so
    the answer is identical to an unpruned read + ``.filter(...)``; only
    the file set the scan plans over shrinks.

    ``timestamp`` — TIMESTAMP AS OF: mutually exclusive with ``version``;
    resolved to the last commit at or before that moment.
    """
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass either version or timestamp, not both")
        version = version_at_timestamp(table_path, timestamp)
    snap = snapshot(spark, table_path, version)

    adds = snap.adds
    if skip_filters:
        adds = prune_adds(adds, skip_filters, snap.partition_columns)

    df = _df_for_adds(spark, snap, adds)
    if skip_filters:
        # Stats pruning is file-granular; rows inside surviving files
        # still need the predicate, which Catalyst pushes into the
        # parquet scan (PushedFilters).
        df = df.filter(_predicate_expr(skip_filters))
    return df


def _df_for_adds(
    spark: SparkSession, snap: DeltaSnapshot, adds: dict[str, dict]
) -> DataFrame:
    """Plan a DataFrame over a subset of a snapshot's files, partition
    columns reattached as typed literals per partition group."""
    schema = snap.schema
    part_cols = snap.partition_columns
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    data_schema = StructType(data_fields)

    if not adds:
        return spark.createDataFrame([], schema)

    if not part_cols:
        paths = [os.path.join(snap.table_path, p) for p in sorted(adds)]
        return spark.read.schema(data_schema).parquet(*paths)

    by_part: dict[tuple, list[str]] = {}
    for path, add in sorted(adds.items()):
        key = tuple(add.get("partitionValues", {}).get(c) for c in part_cols)
        by_part.setdefault(key, []).append(os.path.join(snap.table_path, path))

    field_type = {f.name: f.dataType for f in schema.fields}
    branches = []
    # NULL partition values (None) sort after every string
    for key, paths in sorted(
        by_part.items(), key=lambda kv: [(v is None, v or "") for v in kv[0]]
    ):
        df = spark.read.schema(data_schema).parquet(*paths)
        for c, raw in zip(part_cols, key):
            # partitionValues serialize as strings (or null); cast back
            df = df.withColumn(c, F.lit(raw).cast(field_type[c]))
        branches.append(df.select([f.name for f in schema.fields]))
    return reduce(lambda a, b: a.unionByName(b), branches)


def table_version(table_path: str) -> int:
    """Latest committed version (reference getTableStats analogue)."""
    version = _latest_version(os.path.join(table_path, "_delta_log"))
    if version < 0:
        raise FileNotFoundError(f"empty _delta_log in {table_path}")
    return version


def _schema_to_string(schema: StructType) -> str:
    return json.dumps(schema.jsonValue())


def _add_action(table_path: str, rel: str, data_change: bool = True) -> dict:
    """The add action for data file ``rel`` (relative to the table):
    partition values from its Hive-style ``k=v`` directories (Spark's
    ``__HIVE_DEFAULT_PARTITION__`` is NULL), size, modification time and
    footer stats."""
    full = os.path.join(table_path, rel)
    part_values: dict[str, str | None] = {}
    for seg in os.path.dirname(rel).split(os.sep):
        k, eq, v = seg.partition("=")
        if eq:
            part_values[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    add = {
        "path": rel.replace(os.sep, "/"),
        "partitionValues": part_values,
        "size": os.path.getsize(full),
        "modificationTime": int(os.path.getmtime(full) * 1000),
        "dataChange": data_change,
    }
    stats = _file_stats_json(full)
    if stats:
        add["stats"] = stats
    return {"add": add}


def _stage_files(
    df: DataFrame,
    table_path: str,
    partition_by: list[str],
    data_change: bool = True,
) -> list[dict]:
    """Write ``df`` as parquet into the table directory under unique names
    (invisible until committed) and return the add actions, stats included.
    The staging directory is removed whether or not the write succeeds."""
    stage_token = uuid.uuid4().hex[:12]
    stage_dir = os.path.join(table_path, f"_staging_{stage_token}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    try:
        writer.parquet(stage_dir)
        adds: list[dict] = []
        for root, _dirs, files in os.walk(stage_dir):
            for fname in files:
                if not fname.endswith(".parquet"):
                    continue
                rel = os.path.normpath(
                    os.path.join(os.path.relpath(root, stage_dir), f"{stage_token}-{fname}")
                )
                dst = os.path.join(table_path, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(os.path.join(root, fname), dst)
                adds.append(_add_action(table_path, rel, data_change))
        return adds
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)


def write_delta(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
) -> int:
    """Commit a DataFrame to a Delta table via the log protocol; returns
    the committed version.

    Two phases, crash-safe in the Delta sense: (1) write parquet data
    files into the table directory under unique names — invisible until
    committed; (2) append commit ``N.json`` through ``_commit``, so two
    concurrent writers race on the file create. A losing plain append
    retries at N+1 unless the winner changed the table's metaData or
    protocol; a losing overwrite, table creation or schema-evolving
    append raises ``DeltaProtocolError`` (optimistic concurrency,
    single-filesystem scope). ``overwrite`` emits remove actions for the
    previous snapshot's files in the same atomic commit.

    Appends enforce the table schema by name: a DataFrame with extra or
    missing columns is rejected unless ``merge_schema=True`` (Delta's
    ``mergeSchema`` option), which widens the table schema in the same
    commit — new columns land nullable, existing files backfill NULL on
    read, no data rewrite. Same-name type conflicts always raise (this
    minimal writer does no type widening).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    partition_by = list(partition_by or [])
    spark = df.sparkSession
    latest = _latest_version(os.path.join(table_path, "_delta_log"))
    prev: DeltaSnapshot | None = None
    if latest >= 0:
        prev = snapshot(spark, table_path, latest)
        if prev.partition_columns != partition_by:
            raise ValueError(
                f"partition mismatch: table has {prev.partition_columns}, "
                f"write requested {partition_by}"
            )

    # Append-time schema enforcement / evolution (Delta mergeSchema).
    evolved_metadata: dict | None = None
    if prev is not None and mode == "append":
        tbl_fields = {f.name: f for f in prev.schema.fields}
        df_fields = {f.name: f for f in df.schema.fields}
        # Same-name type differences: cast the INPUT to the table type when
        # the cast is assignment-safe (Delta's ANSI store-assignment policy
        # — numeric↔numeric, date→timestamp); anything else is a conflict.
        def _assignment_castable(src: str, dst: str) -> bool:
            numeric = {"tinyint", "smallint", "int", "bigint", "float", "double"}

            def is_num(t: str) -> bool:
                return t in numeric or t.startswith("decimal")

            return (is_num(src) and is_num(dst)) or (
                src == "date" and dst == "timestamp"
            )

        casts: dict[str, object] = {}
        conflicts: list[str] = []
        for n, f in df_fields.items():
            if n not in tbl_fields:
                continue
            src_t = f.dataType.simpleString()
            dst_t = tbl_fields[n].dataType.simpleString()
            if src_t == dst_t:
                continue
            if _assignment_castable(src_t, dst_t):
                casts[n] = tbl_fields[n].dataType
            else:
                conflicts.append(f"{n} ({src_t} -> {dst_t})")
        if conflicts:
            raise ValueError(
                f"schema conflict on append: column(s) {conflicts} are not "
                f"assignment-castable to the table type"
            )
        for n, dtype in casts.items():
            df = df.withColumn(n, F.col(n).cast(dtype))
        new_cols = [f.name for f in df.schema.fields if f.name not in tbl_fields]
        missing_cols = [n for n in tbl_fields if n not in df_fields]
        if (new_cols or missing_cols) and not merge_schema:
            raise ValueError(
                f"schema mismatch on append (new: {new_cols}, missing: "
                f"{missing_cols}); pass merge_schema=True to evolve the table"
            )
        if new_cols:
            from pyspark.sql.types import StructField

            merged = StructType(
                list(prev.schema.fields)
                + [
                    StructField(n, df_fields[n].dataType, nullable=True)
                    for n in new_cols
                ]
            )
            evolved_metadata = dict(prev.metadata or {})
            evolved_metadata["schemaString"] = _schema_to_string(merged)

    # CHECK constraints (delta.constraints.*) gate every write — violating
    # rows fail the commit before any data is staged. Overwrites are
    # checked too: the constraint describes the table, not the delta.
    if prev is not None:
        _enforce_constraints(df, _check_constraints(prev.metadata))

    adds = _stage_files(df, table_path, partition_by)

    actions: list[dict] = []
    if prev is None:
        actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
    if prev is None or mode == "overwrite":
        # Overwrite replaces schema + data but NOT table identity or
        # configuration (constraints survive an INSERT OVERWRITE).
        prev_meta = (prev.metadata or {}) if prev is not None else {}
        actions.append(
            {
                "metaData": {
                    "id": prev_meta.get("id") or str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _schema_to_string(df.schema),
                    "partitionColumns": partition_by,
                    "configuration": dict(prev_meta.get("configuration") or {}),
                    "createdTime": prev_meta.get("createdTime")
                    or int(time.time() * 1000),
                }
            }
        )
    if evolved_metadata is not None:
        actions.append({"metaData": evolved_metadata})
    removes = prev.adds if mode == "overwrite" and prev is not None else ()
    return _commit(
        table_path, latest, "WRITE", {"mode": mode}, None, actions, removes, adds
    )


def _commit(
    table_path: str,
    read_version: int,
    operation: str,
    params: dict | None,
    metrics: dict | None,
    actions: list[dict],
    removes: Collection[str] = (),
    adds: Sequence[dict] = (),
    data_change: bool = True,
) -> int:
    """Commit one transaction on top of ``read_version`` (-1 for a new
    table) and return the version it landed at.

    The commit file holds ``commitInfo``, then ``actions`` (protocol /
    metaData), then one remove per path in ``removes``, then ``adds``;
    commitInfo and the removes share one timestamp. The payload is
    written to a temp file in ``_delta_log`` and published with
    ``os.link``, which fails if the target exists: of two writers racing
    for a version exactly one wins, and nobody ever sees a partly written
    commit. The loser moves on to the next version only as a blind append
    — a WRITE of nothing but adds — and only past commits that carry no
    ``metaData`` or ``protocol`` (its schema and constraint checks would
    be stale); anything else read a snapshot that is no longer current
    and raises ``DeltaProtocolError``."""
    log_dir = os.path.join(table_path, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    ts = int(time.time() * 1000)
    info: dict = {"timestamp": ts, "operation": operation}
    if params is not None:
        info["operationParameters"] = params
    if metrics is not None:
        info["operationMetrics"] = metrics
    info["engineInfo"] = "delta_unity_duckdb_spark minimal-writer"
    remove_actions = [
        {"remove": {"path": p, "deletionTimestamp": ts, "dataChange": data_change}}
        for p in removes
    ]
    payload = [{"commitInfo": info}, *actions, *remove_actions, *adds]
    text = "\n".join(json.dumps(a, separators=(",", ":")) for a in payload) + "\n"
    # a MERGE with nothing to remove still read the table to find that no
    # key matched, so only a plain WRITE can be a blind append
    blind_append = operation == "WRITE" and not actions and not removes
    tmp = os.path.join(log_dir, f".{uuid.uuid4().hex}.json.tmp")
    fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    try:
        with os.fdopen(fd, "w") as fh:
            fh.write(text)
        version = read_version + 1
        while True:
            try:
                os.link(tmp, _commit_path(log_dir, version))
                return version
            except FileExistsError:
                if not blind_append or any(
                    "metaData" in a or "protocol" in a for a in _read_commit(log_dir, version)
                ):
                    raise DeltaProtocolError(
                        f"concurrent commit at version {version}; re-run the {operation}"
                    ) from None
                version += 1
    finally:
        os.unlink(tmp)


# Above this many distinct single-column keys, merge pruning falls back
# from the exact key-set probe to the min/max envelope (the collected key
# list must stay driver-small).
_MERGE_KEYSET_CAP = 100_000


def _probe_source_keys(
    source_df: DataFrame, on: list[str]
) -> tuple[list | None, list[tuple[str, str, object]]]:
    """The merge's one pre-pass over the source: group the non-NULL keys,
    raise if any key holds more than one row, and return what file pruning
    needs.

    Single-column keys (the overwhelmingly common merge shape) return the
    sorted distinct key set, collected with a ``_MERGE_KEYSET_CAP + 1``
    limit so the driver list stays bounded. Compound keys, and key sets
    past the cap, return ``None`` plus the per-column min/max envelope as
    ``>=``/``<=`` filters, computed by one aggregate over the same groups
    that also carries the duplicate check."""
    grouped = (
        source_df.na.drop(subset=on)
        .groupBy(*on)
        .agg(F.count(F.lit(1)).alias("__rows"))
    )
    if len(on) == 1:
        rows = grouped.limit(_MERGE_KEYSET_CAP + 1).collect()
        if len(rows) <= _MERGE_KEYSET_CAP:
            if any(r["__rows"] > 1 for r in rows):
                raise ValueError("source has multiple rows per merge key")
            return sorted(r[0] for r in rows), []

    bounds = grouped.agg(
        F.max("__rows").alias("__rows"),
        *[F.min(c).alias(f"lo_{c}") for c in on],
        *[F.max(c).alias(f"hi_{c}") for c in on],
    ).collect()[0]
    if (bounds["__rows"] or 0) > 1:
        raise ValueError("source has multiple rows per merge key")
    overlap: list[tuple[str, str, object]] = []
    for c in on:
        lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
        if lo is not None:
            overlap.extend([(c, ">=", lo), (c, "<=", hi)])
    return None, overlap


def _files_possibly_matching(
    snap: DeltaSnapshot,
    on: list[str],
    keys: list | None,
    overlap: list[tuple[str, str, object]],
) -> dict[str, dict]:
    """Target files that MAY contain a source key, decided from the log
    alone (no data IO).

    With the exact key set (``keys``), each file's [min,max] is probed
    with a binary search — an insert-heavy source no longer stretches one
    envelope over the whole table, so a merge touching 2 clustered keys
    rewrites the 1-2 files that hold them. Otherwise the min/max envelope
    filters (``overlap``) prune (still conservative, never wrong)."""
    part_cols = snap.partition_columns

    if keys is not None:
        if not keys:
            return {}
        import bisect

        k = on[0]

        def may_match(add: dict) -> bool:
            if k in part_cols:
                return any(
                    _file_may_match(add, k, "=", key, part_cols) for key in keys
                )
            stats = add.get("stats")
            if not stats:
                return True
            try:
                parsed = json.loads(stats) if isinstance(stats, str) else stats
            except (TypeError, ValueError):
                return True
            lo = _coerce_like(parsed.get("minValues", {}).get(k), keys[0])
            hi = _coerce_like(parsed.get("maxValues", {}).get(k), keys[0])
            if lo is None or hi is None:
                return True
            try:
                i = bisect.bisect_left(keys, lo)
            except TypeError:
                return True
            return i < len(keys) and keys[i] <= hi

        return {p: a for p, a in snap.adds.items() if may_match(a)}

    if not overlap:
        return {}  # all-NULL-key source: nothing can match
    return prune_adds(snap.adds, overlap, part_cols)


def merge_delta(
    source_df: DataFrame,
    table_path: str,
    on: list[str],
    when_matched: str = "update",
    insert_not_matched: bool = True,
) -> dict:
    """MERGE INTO on the minimal Delta log (reference flagship B11 —
    ``INSERT … ON CONFLICT DO UPDATE/DO NOTHING``,
    delta_to_postgres_scd.py:242-261 — generalized beyond SCD2):
    copy-on-write at FILE granularity, driven by the per-file stats.

    1. One grouped pre-pass over the source (``_probe_source_keys``)
       checks that no key holds two rows and returns the exact key set
       (single-column keys within ``_MERGE_KEYSET_CAP``) or the per-column
       min/max envelope (compound keys, larger key sets).
    2. The log alone then decides which target files may hold a source
       key; every other file PROVABLY contains no matching key and is
       never read, never rewritten. At 100 TB with key-clustered files
       (compaction/Z-order keep them clustered), a point-ish merge touches
       a handful of files instead of the table.
    3. One write job re-emits the touched files: their rows whose key the
       source lacks, plus the matched source rows (``when_matched=
       "update"``) and the unmatched ones (``insert_not_matched``).
       ``rows_matched`` is an ``Observation`` on the touched-rows ⟕
       source-keys join inside that same job, so no separate count runs.
    4. One atomic commit: removes for touched files + adds for their
       replacements. Readers of the old version are unaffected; time
       travel keeps working.

    Multiple source rows hitting one key raise (same rule as Delta's
    MERGE); NULL-keyed source rows never match (equality is
    null-rejecting) and land as inserts. Concurrent-writer conflict
    raises instead of blind-retrying — a merge retried on top of an
    unseen commit would resurrect rows it never read.
    """
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be update|delete, got {when_matched!r}")
    spark = source_df.sparkSession
    snap = snapshot(spark, table_path)
    target_cols = [f.name for f in snap.schema.fields]
    if set(source_df.columns) != set(target_cols):
        raise ValueError(
            f"source columns {sorted(source_df.columns)} != target {sorted(target_cols)}"
        )
    missing = [k for k in on if k not in target_cols]
    if missing:
        raise ValueError(f"merge keys not in schema: {missing}")
    source_df = source_df.select(target_cols)

    keys, overlap = _probe_source_keys(source_df, on)
    touched = _files_possibly_matching(snap, on, keys, overlap)
    untouched = {p: a for p, a in snap.adds.items() if p not in touched}

    touched_df = _df_for_adds(spark, snap, touched)
    matched = Observation()
    # Source keys are unique (checked above), so the left join neither
    # drops nor repeats a touched row; a flagged row is a matched one.
    kept = (
        touched_df.join(source_df.select(*on, F.lit(True).alias("__matched")), on, "left")
        .observe(matched, F.count_if(F.col("__matched")).alias("n"))
        .filter(F.col("__matched").isNull())
        .select(target_cols)
    )
    # Updates and inserts stay separate union branches, so they land in
    # separate files: inserts past the table's key range never widen the
    # [min,max] of the rewritten key window, and later merges keep
    # pruning to the files they touch.
    pieces = [kept]
    if when_matched == "update":
        pieces.append(source_df.join(touched_df.select(on), on, "left_semi"))
    if insert_not_matched:
        pieces.append(source_df.join(touched_df.select(on), on, "left_anti"))
    new_data = reduce(lambda a, b: a.unionByName(b), pieces)

    adds = _stage_files(new_data, table_path, snap.partition_columns)
    n_matched = matched.get["n"]
    version = _commit(
        table_path,
        snap.version,
        "MERGE",
        {
            "predicate": " AND ".join(f"t.{k} = s.{k}" for k in on),
            "whenMatched": when_matched,
            "insertNotMatched": insert_not_matched,
        },
        {
            "numTargetFilesRemoved": len(touched),
            "numTargetFilesAdded": len(adds),
            "numTargetFilesSkipped": len(untouched),
            "numMatchedRows": n_matched,
        },
        [],
        touched,
        adds,
    )
    return {
        "version": version,
        "files_rewritten": len(touched),
        "files_skipped": len(untouched),
        "files_added": len(adds),
        "rows_matched": n_matched,
    }


def _predicate_expr(where: list[tuple[str, str, object]]):
    """AND-list of (col, op, value) → a Column predicate (same operator
    set the file pruner understands, so plan-time and file-time agree)."""
    expr = F.lit(True)
    for c, op, v in where:
        col = F.col(c)
        expr = expr & {
            "=": col == v, "!=": col != v, "<": col < v,
            "<=": col <= v, ">": col > v, ">=": col >= v,
        }[op]
    return expr


def _rewrite_matching(
    spark: SparkSession,
    table_path: str,
    where: list[tuple[str, str, object]],
    operation: str,
    transform,
) -> dict:
    """Shared DELETE/UPDATE engine: rewrite only files that may contain a
    matching row (stats-pruned); within them, keep non-matching rows as-is
    and replace matching rows with ``transform(matching_df)`` (empty for
    DELETE). One atomic commit; untouched files never read."""
    snap = snapshot(spark, table_path)
    for c, op, _ in where:
        if op not in _SKIP_OPS:
            raise ValueError(f"unsupported operator {op!r}")
        if c not in [f.name for f in snap.schema.fields]:
            raise ValueError(f"unknown column {c!r}")

    touched = prune_adds(snap.adds, where, snap.partition_columns)
    untouched = {p: a for p, a in snap.adds.items() if p not in touched}
    pred = _predicate_expr(where)

    touched_df = _df_for_adds(spark, snap, touched)
    matching = touched_df.filter(pred)
    n_affected = matching.count()
    if n_affected == 0:
        # No rows match: nothing to rewrite, no commit needed.
        return {
            "version": snap.version,
            "rows_affected": 0,
            "files_rewritten": 0,
            "files_skipped": len(snap.adds),
        }
    kept = touched_df.filter(~pred | F.isnull(pred))
    replacement = transform(matching)
    new_data = kept.unionByName(replacement) if replacement is not None else kept

    adds = _stage_files(new_data, table_path, snap.partition_columns)
    version = _commit(
        table_path,
        snap.version,
        operation,
        {"predicate": " AND ".join(f"{c} {op} {v!r}" for c, op, v in where)},
        {
            "numAffectedRows": n_affected,
            "numTargetFilesRemoved": len(touched),
            "numTargetFilesAdded": len(adds),
            "numTargetFilesSkipped": len(untouched),
        },
        [],
        touched,
        adds,
    )
    return {
        "version": version,
        "rows_affected": n_affected,
        "files_rewritten": len(touched),
        "files_skipped": len(untouched),
    }


def delete_delta(
    spark: SparkSession, table_path: str, where: list[tuple[str, str, object]]
) -> dict:
    """DELETE FROM t WHERE … (AND-list of simple predicates) with file-level
    copy-on-write: stats decide which files can hold a matching row; only
    those are rewritten without the matching rows. Returns
    ``rows_affected`` — the reference's DML-with-rowcount surface
    (query_sync_table.py:122-125) as an engine operator."""
    return _rewrite_matching(spark, table_path, where, "DELETE", lambda m: None)


def update_delta(
    spark: SparkSession,
    table_path: str,
    where: list[tuple[str, str, object]],
    set_exprs: dict[str, object],
) -> dict:
    """UPDATE t SET col = expr, … WHERE … — matching rows re-emitted with
    the SET expressions applied (values or Column expressions over the old
    row), non-matching rows byte-identical, untouched files skipped."""
    from pyspark.sql import Column

    def apply_set(matching: DataFrame) -> DataFrame:
        out = matching
        for c, v in set_exprs.items():
            if c not in matching.columns:
                raise ValueError(f"unknown SET column {c!r}")
            col_type = dict((f.name, f.dataType) for f in matching.schema.fields)[c]
            expr = v if isinstance(v, Column) else F.lit(v)
            out = out.withColumn(c, expr.cast(col_type))
        return out.select(matching.columns)

    return _rewrite_matching(spark, table_path, where, "UPDATE", apply_set)


def read_delta_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental read: rows ADDED in commits (from_version, to_version]
    — the minimal change-data-feed used for incremental ingestion
    (process a Delta table as a sequence of commit batches instead of
    rescanning 100 TB per sync; the reference re-reads the whole table
    every SCD2 run, delta_to_postgres_scd.py:51-105 — this is the fix).

    Append-only semantics: add actions in the commit range are returned
    with a ``_commit_version`` column; a remove in the range (overwrite /
    compaction) raises — a caller doing incremental sync must resnapshot
    then, exactly like Delta CDF's semantics for non-append commits
    without the CDF flag.
    """
    log_dir = os.path.join(table_path, "_delta_log")
    if to_version is None:
        to_version = table_version(table_path)
    base = snapshot(spark, table_path, from_version)  # schema + partitioning

    branches = []
    for v in range(from_version + 1, to_version + 1):
        adds: dict[str, dict] = {}
        for action in _read_commit(log_dir, v):
            if "remove" in action:
                raise DeltaProtocolError(
                    f"commit {v} removes files — not append-only; "
                    "resnapshot instead of incremental read"
                )
            if "metaData" in action:
                # schema evolution inside the CDC range: adds committed
                # with (or after) the new metaData carry the evolved
                # schema — plan this commit's files with it, or the new
                # column's values would silently read as dropped
                base.metadata = action["metaData"]
            elif "add" in action:
                adds[action["add"]["path"]] = action["add"]
        if adds:
            branches.append(
                _df_for_adds(spark, base, adds).withColumn(
                    "_commit_version", F.lit(v).cast("long")
                )
            )
    if not branches:
        return spark.createDataFrame([], base.schema).withColumn(
            "_commit_version", F.lit(None).cast("long")
        )
    # allowMissingColumns: pre-evolution batches surface NULL for columns
    # added mid-range (Delta CDF semantics for merge_schema appends)
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), branches
    )


def optimize_delta(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> dict:
    """OPTIMIZE [ZORDER BY] as a transaction-log commit.

    Plain mode: bin-pack files smaller than ``target_file_bytes`` into
    ~target-sized files (streaming appends and fine-grained partitions
    accumulate small files; scan task count and object-store listing load
    are O(files), so this is routine maintenance at scale). ``sort_by`` /
    ``zorder_by`` rewrite the WHOLE table range-clustered / Morton-
    clustered so per-file min/max stats turn ``read_delta(skip_filters)``
    and ``merge_delta`` into few-file operations.

    The rewrite commits atomically with ``dataChange: false`` on both adds
    and removes — the Delta convention telling incremental/streaming
    consumers that no logical rows changed. Old versions stay time-
    travelable until ``vacuum``.
    """
    if zorder_by and sort_by:
        raise ValueError("choose zorder_by or sort_by, not both")
    snap = snapshot(spark, table_path)
    reorder = bool(zorder_by or sort_by)
    scope = (
        dict(snap.adds)
        if reorder
        else {
            p: a
            for p, a in snap.adds.items()
            if int(a.get("size") or 0) < target_file_bytes
        }
    )
    if not scope or (len(scope) < 2 and not reorder):
        return {
            "version": snap.version,
            "files_removed": 0,
            "files_added": 0,
            "bytes": 0,
        }
    total_bytes = sum(int(a.get("size") or 0) for a in scope.values())
    n_out = max(1, -(-total_bytes // target_file_bytes))

    df = _df_for_adds(spark, snap, scope)
    if zorder_by:
        from delta_unity_duckdb_spark.operators.zorder import _BITS, _grid_cell, zorder_key

        bounds = df.agg(
            *[F.min(c).alias(f"__min_{c}") for c in zorder_by],
            *[F.max(c).alias(f"__max_{c}") for c in zorder_by],
        )
        with_bounds = df.join(F.broadcast(bounds))
        cells = [
            _grid_cell(F.col(c), F.col(f"__min_{c}"), F.col(f"__max_{c}"), _BITS)
            for c in zorder_by
        ]
        out = (
            with_bounds.withColumn("__zkey", zorder_key(cells, _BITS))
            .drop(*[f"__min_{c}" for c in zorder_by], *[f"__max_{c}" for c in zorder_by])
            .repartitionByRange(n_out, "__zkey")
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
        )
    elif sort_by:
        out = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
    else:
        out = df.repartition(n_out)

    adds = _stage_files(out, table_path, snap.partition_columns, data_change=False)
    version = _commit(
        table_path,
        snap.version,
        "OPTIMIZE",
        {
            "zOrderBy": list(zorder_by or []),
            "sortBy": list(sort_by or []),
            "targetFileBytes": target_file_bytes,
        },
        {
            "numRemovedFiles": len(scope),
            "numAddedFiles": len(adds),
            "numConsideredFiles": len(snap.adds),
        },
        [],
        scope,
        adds,
        data_change=False,
    )
    return {
        "version": version,
        "files_removed": len(scope),
        "files_added": len(adds),
        "bytes": total_bytes,
    }


def write_checkpoint(spark: SparkSession, table_path: str, version: int | None = None) -> int:
    """Write a parquet checkpoint of the snapshot at ``version`` (default
    latest) and point ``_last_checkpoint`` at it. Readers then replay only
    newer JSON commits — bounding log-replay cost as commits accumulate
    (the log would otherwise grow O(total commits ever)).

    The snapshot is already a driver-side dict, so pyarrow writes it
    directly — no Spark job. The file lands under a temporary name and is
    moved into place with ``os.replace``: readers see the whole checkpoint
    or none, and a failed write leaves nothing in ``_delta_log``. The
    layout is the Delta one (one action per row in ``protocol`` /
    ``metaData`` / ``add`` struct columns, MAP-typed string maps).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    log_dir = os.path.join(table_path, "_delta_log")
    snap = snapshot(spark, table_path, version)
    version = snap.version

    str_map = pa.map_(pa.string(), pa.string())
    ckpt_schema = pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("name", pa.string()),
                        ("description", pa.string()),
                        ("format", pa.struct([("provider", pa.string()), ("options", str_map)])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        # configuration MUST round-trip through checkpoints:
                        # CHECK constraints live in delta.constraints.* keys,
                        # and a snapshot rebuilt from a checkpoint that
                        # dropped them would silently stop enforcing (and the
                        # next overwrite would erase them)
                        ("configuration", str_map),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", str_map),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                    ]
                ),
            ),
        ]
    )
    proto = snap.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = snap.metadata or {}
    fmt = meta.get("format") or {}
    rows: list[dict] = [
        {
            "protocol": {
                "minReaderVersion": proto.get("minReaderVersion", 1),
                "minWriterVersion": proto.get("minWriterVersion", 2),
            }
        },
        {
            "metaData": {
                "id": meta.get("id"),
                "name": meta.get("name"),
                "description": meta.get("description"),
                "format": {
                    "provider": fmt.get("provider", "parquet"),
                    "options": list((fmt.get("options") or {}).items()),
                },
                "schemaString": meta.get("schemaString"),
                "partitionColumns": list(meta.get("partitionColumns") or []),
                "configuration": list((meta.get("configuration") or {}).items()),
                "createdTime": meta.get("createdTime"),
            }
        },
    ]
    for add in snap.adds.values():
        rows.append(
            {
                "add": {
                    "path": add["path"],
                    "partitionValues": list((add.get("partitionValues") or {}).items()),
                    "size": int(add.get("size") or 0),
                    "modificationTime": int(add.get("modificationTime") or 0),
                    "dataChange": bool(add.get("dataChange", True)),
                    "stats": add.get("stats"),
                }
            }
        )
    final = os.path.join(log_dir, f"{version:0{_COMMIT_DIGITS}d}.checkpoint.parquet")
    tmp = f"{final}.{uuid.uuid4().hex[:8]}.tmp"
    try:
        pq.write_table(pa.Table.from_pylist(rows, schema=ckpt_schema), tmp)
        os.replace(tmp, final)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)
    return version


def vacuum(spark: SparkSession, table_path: str) -> list[str]:
    """Delete data files no longer referenced by the CURRENT snapshot
    (post-overwrite/compaction garbage). Returns the deleted paths.

    Deliberately more conservative than Delta's retention-window VACUUM:
    time travel to pre-vacuum versions stops working (exactly as it does
    after a real VACUUM passes the retention window) — but concurrent
    readers of the current snapshot are unaffected because the active
    file set is untouched.
    """
    snap = snapshot(spark, table_path)
    live = {os.path.normpath(p) for p in snap.adds}
    deleted: list[str] = []
    for root, dirs, files in os.walk(table_path):
        if "_delta_log" in root.split(os.sep):
            continue
        dirs[:] = [d for d in dirs if d != "_delta_log" and not d.startswith("_staging_")]
        for fname in files:
            full = os.path.join(root, fname)
            rel = os.path.normpath(os.path.relpath(full, table_path))
            if fname.endswith(".parquet") and rel not in live:
                os.remove(full)
                deleted.append(rel)
    return deleted


def convert_to_delta(spark: SparkSession, parquet_path: str) -> int:
    """CONVERT TO DELTA: register existing parquet files into a fresh
    transaction log IN PLACE — no data rewrite, commit 0 simply lists
    them as adds (the standard lakehouse migration; at 100 TB a rewrite
    is days of IO, a log commit is milliseconds per thousand files).
    Hive-style ``k=v`` directories become partition columns.
    """
    if os.path.isdir(os.path.join(parquet_path, "_delta_log")):
        raise ValueError(f"already a Delta table: {parquet_path}")
    rels: list[str] = []
    for root, dirs, files in os.walk(parquet_path):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        rel_dir = os.path.relpath(root, parquet_path)
        rels.extend(
            os.path.normpath(os.path.join(rel_dir, f)) for f in files if f.endswith(".parquet")
        )
    if not rels:
        raise FileNotFoundError(f"no parquet files under {parquet_path}")
    adds = [_add_action(parquet_path, rel) for rel in sorted(rels)]
    layouts = {tuple(sorted(a["add"]["partitionValues"])) for a in adds}
    if len(layouts) > 1:
        raise ValueError(f"inconsistent partition layout: {sorted(layouts)}")

    # schema from the files (footer-only) + partition cols typed by Spark's
    # directory inference
    inferred = spark.read.option("basePath", parquet_path).parquet(parquet_path)
    meta = {
        "id": str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": _schema_to_string(inferred.schema),
        "partitionColumns": list(layouts.pop()),
        "configuration": {},
        "createdTime": int(time.time() * 1000),
    }
    protocol = {"minReaderVersion": 1, "minWriterVersion": 2}
    actions = [{"protocol": protocol}, {"metaData": meta}]
    return _commit(parquet_path, -1, "CONVERT", None, None, actions, adds=adds)


def restore_delta(
    spark: SparkSession, table_path: str, version: int
) -> dict:
    """RESTORE TABLE t TO VERSION AS OF v — reset the table's live state to
    an earlier snapshot with ONE metadata commit, no data rewrite (the
    standard lakehouse undo for a bad write; at 100 TB the alternative —
    re-copying the old data — is days of IO, this is milliseconds).

    The new commit removes files added since ``version``, re-adds files
    that version referenced but the current snapshot dropped (their add
    actions, stats included, are replayed verbatim from the old log), and
    restores that version's metaData (schema + partitioning), exactly like
    Delta's RESTORE. History is preserved: the restore is itself a new
    version, and time travel to the pre-restore state still works.

    Fails if any file of the target snapshot has been physically deleted
    (VACUUM) — same contract as Delta Lake's RESTORE.
    """
    cur = snapshot(spark, table_path)
    tgt = snapshot(spark, table_path, version)
    missing = [
        p for p in sorted(tgt.adds)
        if not os.path.exists(os.path.join(table_path, p))
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot RESTORE to version {version}: {len(missing)} data file(s) "
            f"vacuumed, e.g. {missing[0]!r}"
        )

    to_remove = sorted(set(cur.adds) - set(tgt.adds))
    to_add = sorted(set(tgt.adds) - set(cur.adds))
    new_version = _commit(
        table_path,
        cur.version,
        "RESTORE",
        {"version": version},
        {"numRestoredFiles": len(to_add), "numRemovedFiles": len(to_remove)},
        [{"metaData": tgt.metadata}],
        to_remove,
        [{"add": dict(tgt.adds[p], dataChange=True)} for p in to_add],
    )
    return {
        "version": new_version,
        "restored_to": version,
        "files_added": len(to_add),
        "files_removed": len(to_remove),
    }


def _check_constraints(metadata: dict | None) -> dict[str, str]:
    """CHECK constraints from table configuration (``delta.constraints.<name>``)."""
    if not metadata:
        return {}
    cfg = metadata.get("configuration") or {}
    prefix = "delta.constraints."
    return {k[len(prefix):]: v for k, v in cfg.items() if k.startswith(prefix)}


def _enforce_constraints(df: DataFrame, constraints: dict[str, str]) -> None:
    """Raise if any row violates a CHECK constraint. SQL CHECK semantics:
    a row violates only when the expression is FALSE — NULL passes."""
    for name, expr in constraints.items():
        bad = df.filter(~F.expr(expr)).limit(1).count()
        if bad:
            raise ValueError(
                f"CHECK constraint {name!r} ({expr}) violated by incoming data"
            )


def add_check_constraint(
    spark: SparkSession, table_path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT name CHECK (expr) as a metadata-only
    commit (Delta's table-constraint feature, stored as
    ``delta.constraints.<name>`` in the table configuration; writing a
    constrained table requires writer version 3, which this commit
    declares). Existing rows are validated FIRST — the constraint is
    rejected if current data violates it, exactly like Delta."""
    snap = snapshot(spark, table_path)
    existing = _check_constraints(snap.metadata)
    if name in existing:
        raise ValueError(f"constraint {name!r} already exists")
    _enforce_constraints(read_delta(spark, table_path), {name: expr})

    meta = dict(snap.metadata or {})
    cfg = dict(meta.get("configuration") or {})
    cfg[f"delta.constraints.{name}"] = expr
    meta["configuration"] = cfg
    return _commit(
        table_path,
        snap.version,
        "ADD CONSTRAINT",
        {"name": name, "expr": expr},
        None,
        [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 3}}, {"metaData": meta}],
    )


def drop_check_constraint(
    spark: SparkSession, table_path: str, name: str
) -> int:
    """ALTER TABLE ... DROP CONSTRAINT name (metadata-only commit)."""
    snap = snapshot(spark, table_path)
    if name not in _check_constraints(snap.metadata):
        raise ValueError(f"no such constraint: {name!r}")
    meta = dict(snap.metadata or {})
    cfg = dict(meta.get("configuration") or {})
    del cfg[f"delta.constraints.{name}"]
    meta["configuration"] = cfg
    return _commit(
        table_path, snap.version, "DROP CONSTRAINT", {"name": name}, None, [{"metaData": meta}]
    )
