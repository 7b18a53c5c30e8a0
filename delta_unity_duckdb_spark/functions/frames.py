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
