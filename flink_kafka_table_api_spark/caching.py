"""Tracked persist: bounded cache lifetime in long-lived sessions.

Operators that persist() intermediates (the LSH pipeline, the curation
plan) return LAZY DataFrames — the consuming action happens in the caller,
so the operator itself has no correct place to unpersist. Bare persist()
calls therefore accumulate cached RDDs for the session's lifetime (a soft
leak: MEMORY_AND_DISK evicts under pressure, but storage-memory churn is
real at scale).

``tracked_persist`` registers every such cache; ``release_cached`` frees
them all. Call sites with a natural query boundary (bench.py per query,
the driver between correctness checks, a notebook between jobs) call
``release_cached()`` after the consuming action."""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() + register for a later release_cached()."""
    df.persist()
    _TRACKED.append(df)
    return df


def track(df: DataFrame) -> DataFrame:
    """Register an ALREADY-persisted DataFrame for release_cached()."""
    _TRACKED.append(df)
    return df


def release_cached() -> int:
    """Unpersist every tracked cache; returns how many were released."""
    n = 0
    while _TRACKED:
        try:
            _TRACKED.pop().unpersist()
        except Exception:
            pass  # session already stopped — nothing to free
        n += 1
    return n


from contextlib import contextmanager


@contextmanager
def replan_cached_plans(spark):
    """Scope spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true
    to one streaming pipeline run (set before .start(), restored after
    awaitTermination).

    The flag lets AQE re-plan (and coalesce) the partitioning of CACHED
    plans, so a persisted micro-batch frame materializes at data-sized
    parallelism instead of the full shuffle-partition fan-out — measured
    in r10 on stream_curation_ooo: 8798 -> 3731 tasks, job-time sum
    57 -> 21 s. Session-wide, however, the r11 interleaved A/B on the
    23-query comparable set (medians of 3 invocations per side) measured ON ~7% slower overall — the flag
    coalesces CPU-expensive cached frames (the LSH pipeline's shingle
    sets) below useful parallelism on the batch paths — matching the
    r10 driver's 11 regressed batch queries. So: default OFF
    (session.py no longer sets it), ON only inside the foreachBatch
    pipelines whose per-batch persisted frames are the proven win."""
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        spark.conf.set(key, prev)
