"""SparkSession factory.

Local test/bench configuration; the same settings are what we would
ship as cluster defaults (AQE on, adaptive skew-join, Arrow for any
pandas-UDF boundary). On a real 1000-executor cluster only
``master`` / shuffle-partition counts change — the declarative plans
themselves are partition-count agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """min(16g, ~70% of MemTotal), floored at 2g — big enough for the
    sf0.1 bench on the 16g+ machines, degrades instead of OOM-killing
    on smaller hosts."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(2, min(16, int(total_gib * 0.7)))}g"
    except OSError:
        pass
    return "16g"


# Entries of Spark's LRU cache of compiled whole-stage-codegen classes
# (``spark.sql.codegen.cache.maxEntries``, default 100). One pass over
# all 413 registered queries at sf0.01 compiles 4388 distinct classes;
# one warm pass of the iterative kernels alone (n1, i48c, k55, k2b)
# cycles about 130, so under the default every warm build missed on
# every class and compiled it again. 8192 holds the whole registry with
# room to grow. A static conf: it takes effect only when ``get_spark``
# launches the JVM, not on a session that is already running.
_CODEGEN_CACHE_ENTRIES = 8192


def get_spark(app_name: str = "glonassdatamining-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Console progress frames (\r-rewritten [Stage N:==>] lines) are
        # pure noise to any parent process that captures our output —
        # they flooded the driver's bench-tail window in round 9 and
        # truncated the result JSON mid-line (BENCH_r09.json
        # parsed:null). Suppressible at the source; opt back in with
        # SPARK_GRAFT_CONSOLE_PROGRESS=true for interactive use.
        .config(
            "spark.ui.showConsoleProgress",
            os.environ.get("SPARK_GRAFT_CONSOLE_PROGRESS", "false"),
        )
        # Shuffle sizing: 32 matches local cores; at cluster scale AQE
        # coalesces from a higher initial count, so keep AQE on always.
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        # AQE partition coalescing is BYTE-based, and this workload's hot
        # shuffles are narrow-long rows (pair keys, grid cells) that
        # serialize to <1 MB at local bench scale while still carrying
        # millions of CPU-heavy rows — coalescing collapses them to 1-2
        # partitions and serializes the compute (measured 2.2x slowdown
        # on the set-similarity join). Locally we disable it; on a real
        # cluster the same shuffles are GBs, the byte heuristic is sound
        # again, and deployments should re-enable it in spark-defaults
        # (override via SPARK_GRAFT_AQE_COALESCE=true).
        .config(
            "spark.sql.adaptive.coalescePartitions.enabled",
            os.environ.get("SPARK_GRAFT_AQE_COALESCE", "false"),
        )
        # When coalescing IS enabled, keep the floor small so CPU-heavy
        # narrow-row stages retain parallelism (48k ≈ thousands of pair
        # rows, not two mega-partitions).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "48k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Scan split sizing: Spark sizes splits as
        # min(maxPartitionBytes, max(openCostInBytes, bytes/parallelism))
        # — the 4 MB default openCost leaves a 10 MB local parquet file
        # on ~3 cores. 256 KB openCost + 8 MB max opens every local scan
        # to full parallelism. CLUSTER NOTE: at 100 TB keep the 128 MB
        # default max (override here via env) or task counts explode;
        # openCost 256 KB stays fine (bytes/parallelism dominates).
        .config("spark.sql.files.openCostInBytes", "262144")
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
        )
        # Arrow transfer for the few pandas-UDF operators (SURVEY §2.M).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep driver result transfers bounded; we never collect big frames.
        .config("spark.driver.maxResultSize", "2g")
        # Local mode: the driver JVM IS the executor. Spark's 1g default
        # heap OOMs once the sf0.1 mirror accumulates localCheckpoint
        # blocks plus a multi-million-row Arrow collect (c14). Default:
        # min(16g, ~70% of physical RAM) — fixed 16g would let the JVM
        # get OOM-killed on smaller hosts; env-overridable either way.
        # (Only effective before JVM launch, which is exactly how the
        # session factory is used.)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        # ANSI ON, deliberately (Spark 4 default, set explicitly so the
        # posture is pinned, not inherited): every operator already
        # guards its casts/divisions (try_divide / try_cast where input
        # can be dirty), and failing loudly on an unguarded overflow
        # beats DuckDB-divergent silent NULLs in the oracle compare.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        # Per-call origin capture OFF. PySpark wraps every DataFrame,
        # Column and functions call to record its Python call site: a
        # stack walk plus about 5 py4j round trips per call (active
        # session, stack-depth conf, origin lookup/set/clear), which
        # eager builders pay on the driver between their jobs.
        # Lost: ANSI and analysis errors no longer carry the
        # "== DataFrame ==" Python call-site section. Kept: the
        # exception class and the JVM message. PySpark reads the flag
        # once per process, so it is set here, at session creation.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()
