"""SparkSession factory (maps reference engine-init, delta-unity-duckdb.js:70-113).

The reference's ``initialize()`` creates an in-memory DuckDB and loads the
``delta``/``azure``/``httpfs`` extensions. The Spark-native equivalent is a
SparkSession configured for Delta Lake when ``delta-spark`` is on the
classpath, falling back to plain Parquet otherwise (this container has no
delta-spark jar; the fixtures are Parquet).

Scale posture: AQE on (runtime re-plan, skew-join handling, partition
coalescing), shuffle partitions sized from the env, session timezone pinned
to UTC so results are reproducible across engines and clusters.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Codegen cache size (``spark.sql.codegen.cache.maxEntries``; Spark's default
# is 100). Classes compiled per warm pass under the default, measured with
# CodegenMetrics' compile count (4 cores, sf0.01): perfbench curation 129,
# lakehouse 135, the 60-query bench.py headline 1201-1209 (987 distinct).
# With 4096 a warm curation or headline pass compiles 0 classes, and
# lakehouse only those of its fresh scan literals (28).
CODEGEN_CACHE_ENTRIES = 4096


def _default_driver_mem() -> str:
    """Half the machine's physical RAM, capped at 24g — big enough for
    iterative checkpoint storage at large SFs on big hosts, never a swap
    hazard on small ones. No absolute floor: on a <8 GB host a forced 4g
    heap would exceed half (or all) of physical memory, which is exactly
    the swap hazard this guard exists to avoid — half-of-RAM (min 1g) is
    the honest small-host default, and SPARK_GRAFT_DRIVER_MEM overrides."""
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        gb = max(1, min(24, phys // (2 * 1024**3)))
    except (ValueError, OSError, AttributeError):
        gb = 8
    return f"{int(gb)}g"


def _mem_bytes(mem: str) -> int:
    """Parse a Spark memory string ('8g', '512m', '16384k', bare bytes)."""
    mem = mem.strip().lower()
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    if mem and mem[-1] in units:
        return int(float(mem[:-1]) * units[mem[-1]])
    return int(mem)


def _default_max_result(driver_mem: str) -> str:
    """min(8g, driver_heap/2), in MiB granularity — the result-size cap
    must sit meaningfully UNDER the heap or a big collect skips the clean
    maxResultSize error and OOMs the JVM instead (a fixed 8g did exactly
    that on hosts whose half-of-RAM heap resolves below 16g)."""
    half = _mem_bytes(driver_mem) // 2
    return f"{max(1, min(8 * 1024**3, half) // (1024**2))}m"


def _delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def resolve_master(master: str | None = None) -> str:
    """The session's master resolution, extracted so tests can assert on
    it directly (a source-grep test would survive a regression here).

    Precedence: explicit argument > ``SPARK_GRAFT_MASTER`` (lets any entry
    point — strict_check, bench, tests — run unchanged against a real
    multi-process cluster, e.g. the standalone master/workers
    tools/cluster_sim.py launches to surface serialization and locality
    effects ``local[N]`` hides) > ``local[$SPARK_GRAFT_CPUS]``.
    """
    if master:
        return master
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")


def get_spark(
    app_name: str = "delta-unity-duckdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local defaults come from ``SPARK_GRAFT_CPUS``; on a real cluster the
    master/instances come from spark-submit and these settings are inert.
    """
    master = resolve_master(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem())

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.sql.adaptive.enabled",
            os.environ.get("SPARK_GRAFT_AQE", "true"),
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE swap SortMergeJoin for ShuffledHashJoin when the build
        # side's per-partition shuffle blocks are small (<= this many
        # bytes per partition): hash-probing skips BOTH sides' O(n log n)
        # sorts — the dominant cost of fact-fact joins whose build side is
        # a filtered few-million-row frame. Per-partition bound, so it
        # scales with shuffle.partitions rather than data size: at 100 TB
        # with thousands of partitions the build side must still fit a
        # task's memory or AQE keeps the SMJ.
        .config(
            "spark.sql.adaptive.shuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "67108864"),
        )
        # Scan split sizing. Spark's default open-cost floor (4 MiB) caps a
        # 10 MiB fixture file at ~3 splits — 3-way parallelism on a 32-core
        # box. A small open cost lets tiny local files split out to all
        # cores; on a real cluster (100 TB, 128 MiB+ files) bytes-per-core
        # dominates the split formula and these floors are inert.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST", "262144"),
        )
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet TIMESTAMP(NANOS) (events.ts) has no Spark type; read the
        # raw int64 and convert in sources.tables (floor-div to micros).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # INT96 timestamps carry no parquet column statistics, which kills
        # footer-derived data skipping (delta_log stats) on time columns —
        # the most common pruning dimension at lakehouse scale.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    # Static confs: they take effect only when this call builds the session
    # (checked after getOrCreate below).
    static = {
        # Keep generated classes across calls. Spark's 100-entry codegen
        # cache is smaller than one pass's working set (see
        # CODEGEN_CACHE_ENTRIES), so every warm call recompiled every class
        # and re-warmed the JIT. Guava splits the cache into ~4 LRU
        # segments, so the size needs headroom over the working set or it
        # still evicts.
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # No per-call call-site capture: with DataFrame debugging on, every
        # F.*/Column/DataFrame call first makes ~5 py4j round-trips to set
        # and clear its origin (2-3x the round-trips of a whole frame
        # construction). It only decorates error messages.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # local-mode driver IS the executor: size the heap for iterative
        # graph/dedup checkpoints at the larger synthetic SFs (an 8g heap
        # OOMed k-core's edge checkpoint at sf10), but never past half the
        # machine (a fixed 24g default would swap a 16 GB host); override
        # per-run with SPARK_GRAFT_DRIVER_MEM.
        "spark.driver.memory": driver_mem,
        # Result materialization cap. Spark's 1g default fails any query
        # whose ANSWER is big (the skewed-sf100 sessionization result is
        # ~1.1 GiB serialized) even though the driver heap holds it
        # comfortably — an artificial asymmetry vs engines with no such
        # cap. Cap at min(8g, driver_heap/2): a fixed 8g would EXCEED the
        # heap on small hosts (half-of-RAM flooring at 1g), turning the
        # clean maxResultSize error into a driver OOM; half the resolved
        # heap keeps the cap meaningfully under it at every size while
        # still letting legitimately large results through on big hosts.
        "spark.driver.maxResultSize": os.environ.get(
            "SPARK_GRAFT_MAX_RESULT", _default_max_result(driver_mem)
        ),
    }
    builder = builder.config(map=static)
    # Against a real (standalone) master the executor heap matters and
    # the 1g Spark default is far too small for the scale fixtures;
    # local mode ignores this. Same env var tools/cluster_sim.py uses.
    exec_mem = os.environ.get("SPARK_GRAFT_EXECUTOR_MEM")
    if exec_mem:
        builder = builder.config("spark.executor.memory", exec_mem)
    if _delta_available():
        builder = builder.config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    spark = builder.getOrCreate()
    # A session that already existed (one a host process built first)
    # keeps its own static confs; Spark only logs that. Say which differ:
    # the driver's in the SparkContext's conf, the SQL ones in the session's.
    sc_conf = spark.sparkContext.getConf()
    effective = {
        k: (sc_conf if k.startswith("spark.driver.") else spark.conf).get(k, None)
        for k in static
    }
    kept = [
        f"{k}={effective[k]!r} (wanted {v!r})"
        for k, v in static.items()
        if effective[k] != v
    ]
    if kept:
        warnings.warn(
            "get_spark reused an existing session whose static confs differ: "
            + ", ".join(kept),
            stacklevel=2,
        )
    return spark
