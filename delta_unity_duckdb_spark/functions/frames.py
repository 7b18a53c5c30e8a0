"""DataFrame-level helpers shared across operators and workloads."""

from __future__ import annotations

from pyspark import StorageLevel


def local_rows_df(spark, rows, schema):
    """createDataFrame for a SMALL driver-side list of row tuples.

    The Row-list path serializes through the pickle/RDD machinery
    (`applySchemaToPythonRDD`) and measured 0.4–1.9 s per call even for
    ONE row at local[32]; a pyarrow Table takes the Arrow local-relation
    path at ~0.04 s. Every driver-regime operator that materializes its
    result (BPE merge records, graph kernels, PCA loadings) returns
    through here.

    ``schema`` is a DDL string or a ``StructType``. The Table is typed
    from it, so NULL fields and empty row lists keep the exact declared
    types (pandas would widen a NULL-carrying bigint to float) and take
    the same fast path. Types Arrow conversion does not support
    (MapType, ArrayType of TimestampType, nested StructType) raise
    instead of degrading.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    for f in struct.fields:
        _check_arrow_type(f.name, f.dataType)
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def collect_if_small(df, cap: int):
    """The driver-or-distributed regime probe: ``df`` as a pyarrow Table
    when it holds at most ``cap`` rows, else ``None``.

    Every operator with a driver kernel decides its regime here, and the
    probe IS the kernel's input: one ``df.limit(cap + 1).toArrow()`` job,
    whose columns keep their exact types (a nullable bigint stays int64
    beside its NULLs, lists stay lists), so no kernel detours through
    pandas' float64. ``cap <= 0`` returns ``None`` without a job; tests
    set a cap to 0 to force the distributed regime."""
    if cap <= 0:
        return None
    t = df.limit(cap + 1).toArrow()
    return t if t.num_rows <= cap else None


def list_matrix(col, dtype):
    """A non-empty Arrow list column of equal-length lists as an (n, dim) numpy
    array of ``dtype``, or ``None`` when a list is NULL, the lengths
    differ, or an integral ``dtype`` meets a NULL element (a float
    ``dtype`` takes NULL elements as NaN)."""
    import numpy as np
    import pyarrow.compute as pc

    col = col.combine_chunks()
    if col.null_count:
        return None
    dims = pc.min_max(pc.list_value_length(col)).as_py()
    flat = col.flatten()
    if dims["min"] != dims["max"] or (
        flat.null_count and not np.issubdtype(dtype, np.floating)
    ):
        return None
    return flat.to_numpy(zero_copy_only=False).astype(dtype).reshape(len(col), dims["max"])


def _check_arrow_type(name: str, dt) -> None:
    from pyspark.sql.types import ArrayType, MapType, StructType, TimestampType

    if isinstance(dt, (MapType, StructType)) or (
        isinstance(dt, ArrayType) and isinstance(dt.elementType, TimestampType)
    ):
        raise TypeError(
            f"local_rows_df: column {name!r} has type {dt.simpleString()},"
            " which has no Arrow local-relation conversion"
        )
    if isinstance(dt, ArrayType):
        _check_arrow_type(name, dt.elementType)


# Storage level for every localCheckpoint in the engine. The Dataset
# default (MEMORY_AND_DISK) Java-SERIALIZES each row on store and
# deserializes on every read; materializing a 5 M-row tokenized frame
# measured 9–14 s under the default vs 2.2–2.9 s with deserialized
# storage (round-8 profiling at sf100) — the checkpoint, not the work
# being checkpointed, dominated several reworked plans. Deserialized
# MEMORY_AND_DISK keeps the rows as-is in memory and still spills to
# disk under pressure, so the overflow posture is unchanged.
CKPT_DESER = StorageLevel.MEMORY_AND_DISK_DESER
