"""SparkSession factory with scale-aware defaults.

The reference parallelizes by splitting the block range into per-core chunks
(`crates/bin/src/executors/mod.rs:530-547`); in Spark the same role is played
by input-partition planning + AQE, configured here once.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are safe to apply to an externally-provided session at runtime.
RUNTIME_CONFS: dict[str, str] = {
    # testdata events.parquet stores TIMESTAMP(NANOS); Spark reads it as a
    # nanosecond bigint with this flag (we expose epoch-ns columns anyway).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning (partition coalescing, skew-join splitting)
    # is the scale story for every shuffle below.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # local-mode default of 200 shuffle partitions wastes scheduler time on
    # the test scales; AQE coalesces upward when data demands it
    "spark.sql.shuffle.partitions": "32",
    # CPU-bound small-bytes stages (per-shingle md5, exact-decimal vector
    # math) carry few bytes per row of work; the default 1 MB coalescing
    # floor collapses them to 1-5 tasks. A 64 KB floor keeps them wide at
    # test scale and is a no-op at cluster scale (partitions are MB+ there).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # let AQE re-plan a cached plan too, so a cache keeps as many
    # partitions as its data needs rather than the raw shuffle count
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


#: upper bound on the derived driver heap
MAX_DRIVER_MEMORY_GB = 16


def default_driver_memory() -> str:
    """Driver heap for local mode: half of physical memory in whole
    gigabytes (at least 1g), capped at MAX_DRIVER_MEMORY_GB. In local mode
    the executors share this JVM, and the Python workers and off-heap
    buffers need the other half. Falls back to the cap where the OS does
    not report its memory; ``SPARK_DRIVER_MEMORY`` overrides it."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return f"{MAX_DRIVER_MEMORY_GB}g"
    return f"{max(1, min(MAX_DRIVER_MEMORY_GB, phys // 2**31))}g"


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to any session (including the driver's)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — builder path sets it instead
    return spark


def get_spark(app_name: str = "brontes-spark", cpus: int | str | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # stage-progress bars interleave with stdout and can push a
        # caller's one-line JSON result out of a tail capture
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())
