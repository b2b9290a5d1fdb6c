"""SparkSession factory with scale-aware defaults.

The reference delegates all engine configuration to Flink's planner loader
(reference pom.xml:50-58) and sets no tuning at all. We instead centralize
the Spark configuration that matters at 100 TB here, so every entry point
(tests, bench, driver) runs with the same posture:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- explicit shuffle partitioning (sized by caller; the host's cores locally,
  thousands on a real cluster)
- UTC session timezone (timestamp parity with the oracle, SURVEY.md §7.4)
- Arrow enabled for the few Pandas-UDF operators (multimodal decode)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local defaults are sized from the host: every core this process may run
# on, and a heap of half the physical memory (whole GiB, at least 1g,
# capped at 16g). In local mode spark.driver.memory IS the whole JVM heap
# (driver + executors + broadcast builds share it), and Spark's 1g default
# is undersized: an AQE-chosen broadcast build that fits the 64 MB
# threshold can still OOM a 1g heap once JVM object overhead multiplies it
# (seen in an 8x-scale run's prescreen join, in BroadcastExchange). The
# other half of memory is left to the JVM's off-heap use, the Python
# workers and the OS. The heap is only effective at JVM launch: a
# getOrCreate against an existing session keeps that session's heap. On a
# real cluster the caller overrides master/shuffle_partitions (rule of
# thumb: 2-3x total executor cores, or let AQE coalesce from a high
# initial number) and the submitter sizes driver/executor memory.
# SPARK_GRAFT_CPUS and SPARK_GRAFT_DRIVER_MEM override both per deployment.


def _host_cpus() -> int:
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _host_driver_mem() -> str:
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, phys // 2 // 2**30))}g"


DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or _host_cpus())
DEFAULT_DRIVER_MEM = (
    os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_mem()
)


# Confs every query path depends on for CORRECTNESS (not tuning): these are
# re-asserted at runtime by harden_session because the driver's verify may
# hand us a SparkSession built without the engine's factory — without
# nanosAsLong every events-table scan throws PARQUET_TYPE_ILLEGAL, and a
# non-UTC session timezone shifts timestamp values away from the oracle.
_CORRECTNESS_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

_hardened_sessions: set[int] = set()


def harden_session(spark: SparkSession) -> SparkSession:
    """Idempotently apply the correctness-critical runtime confs to a
    possibly foreign SparkSession (all are runtime-settable)."""
    key = id(spark)
    if key not in _hardened_sessions:
        for k, v in _CORRECTNESS_CONFS.items():
            spark.conf.set(k, v)
        _hardened_sessions.add(key)
    return spark


def get_spark(
    app_name: str = "flink-kafka-table-api-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", DEFAULT_DRIVER_MEM)
        # --- correctness posture ---
        .config("spark.sql.session.timeZone", "UTC")
        # parquet timestamps in testdata are NTZ; keep inference stable
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # the events table stores TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as raw int64 nanos and convert (catalog.read_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- scale posture ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # canChangeCachedPlanOutputPartitioning is NOT set here:
        # session-wide it regressed the batch comparable set ~7%
        # (interleaved A/B: AQE coalesces CPU-expensive cached frames
        # below useful parallelism), while its
        # proven win is the streaming foreachBatch pipelines' per-batch
        # persisted frames. caching.replan_cached_plans scopes it to
        # exactly those runs.
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cpus),
        )
        # 10 MB default is too conservative for dimension tables; 64 MB lets
        # Catalyst auto-broadcast nation/region/supplier-sized dims even at
        # large SF. Explicit F.broadcast() hints are still used in operators.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- python interop ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
