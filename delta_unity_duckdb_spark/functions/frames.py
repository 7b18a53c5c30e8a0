"""DataFrame-level helpers shared across operators and workloads."""

from __future__ import annotations

from pyspark import StorageLevel


def local_rows_df(spark, rows, schema: str):
    """createDataFrame for a SMALL driver-side list of row tuples.

    The Row-list path serializes through the pickle/RDD machinery
    (`applySchemaToPythonRDD`) and measured 0.4–1.9 s per call even for
    ONE row at local[32]; routing the same rows through pandas takes the
    Arrow local-relation path at ~0.04 s. Every driver-regime operator
    that materializes its result (BPE merge records, graph kernels, PCA
    loadings) returns through here.

    Degenerate rows (any NULL field, or no rows) keep the original
    code path: pandas would widen NULL-carrying int columns to object/
    float and the exact-type contract matters more than 0.4 s on an
    empty/degenerate input.
    """
    if rows and all(v is not None for r in rows for v in r):
        import pandas as pd
        from pyspark.sql.types import StructType

        names = StructType.fromDDL(schema).names
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=names), schema
        )
    return spark.createDataFrame(rows, schema)

# Storage level for every localCheckpoint in the engine. The Dataset
# default (MEMORY_AND_DISK) Java-SERIALIZES each row on store and
# deserializes on every read; materializing a 5 M-row tokenized frame
# measured 9–14 s under the default vs 2.2–2.9 s with deserialized
# storage (round-8 profiling at sf100) — the checkpoint, not the work
# being checkpointed, dominated several reworked plans. Deserialized
# MEMORY_AND_DISK keeps the rows as-is in memory and still spills to
# disk under pressure, so the overflow posture is unchanged.
CKPT_DESER = StorageLevel.MEMORY_AND_DISK_DESER
