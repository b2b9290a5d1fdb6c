"""CDC changelog apply with an event-time watermark.

The reference is a Flink Table API client, and the Table API's signature
abstraction beyond windowed aggregation is the CHANGELOG/UPSERT stream:
a keyed stream of insert/update/delete operations materialized into a
continuously-maintained current-state table
(`tableEnv.toChangelogStream` / upsert-kafka — public Flink API surface;
the reference's own pipeline is the insert-only special case,
TransactionProcessor.java:192). This module is the Spark-first
equivalent: a foreachBatch keyed merge (the streaming/upsert.py recipe)
under the shared event-time clock (late_data.EventClock) and the
batch_commit crash-safety protocol:

  per micro-batch k (foreachBatch):
    1. ADMIT:  ops with op_ts > W_{k-1} (the stored watermark); ops at
               or below it are too late — the key's state may already
               have been read downstream — and are dropped
               DETERMINISTICALLY (the same contract stream_late_events
               pins for Spark's own windowed aggregates);
    2. REDUCE: the batch's per-key winner by (op_ts, op_id) — one
               max_by hash aggregate, partial-agg friendly;
    3. MERGE:  winner-of(previous state, batch winners) — state version
               k is written as a NEW batch-scoped directory, so the
               merge is an immutable version chain, not an in-place
               mutation;
    4. ADVANCE: W_k = max(op_ts SEEN through batch k) - delay (seen,
               not admitted: dropped ops still advance the watermark);
    5. PUBLISH: state/batch-k + offsets/batch-k.json under the
               batch_commit protocol.

The final snapshot is the last state version with DELETE winners
removed: a key whose latest admitted op is a delete is absent, exactly
the upsert-stream semantics. Because the per-key winner is an argmax
over (op_ts, op_id), a late-but-admitted op with an older timestamp
merges WITHOUT overwriting newer state — out-of-order arrival inside
the watermark horizon is harmless by construction.

At 100 TB: the per-batch reduce shuffles one row per distinct key in
the batch; the merge joins that against the previous state version on
the key (sort-merge or broadcast as AQE decides). State size is
O(live keys); old versions are pruned to a bounded tail
(batch_commit.KEEP_VERSIONS), so storage does not grow with stream age.
What this deliberately does NOT do is re-read the ops history — state
version k is a pure fold of version k-1 and batch k.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.streaming.batch_commit import (
    BatchCommit,
    Publish,
    batch_dir,
    overwrite,
    read_version,
    versions,
)
from flink_kafka_table_api_spark.streaming.incremental_dedup import (
    IncrementalDedup,
)
from flink_kafka_table_api_spark.streaming.late_data import (
    EventClock,
    stage_chunked_by,
)

OPS_COLUMNS = ["op_id", "op_ts", "key", "op", "value"]
OPS_SCHEMA = "op_id long, op_ts timestamp, key long, op string, value double"
STATE_SCHEMA = (
    "key long, last_op_id long, last_op_ts timestamp, last_op string, "
    "last_value double, n_ops long"
)


def changelog_winners(df: DataFrame, n_col=None) -> DataFrame:
    """Per-key argmax by (op_ts, op_id) plus the applied-op count: ONE
    partial-agg-friendly hash aggregate, no window shuffle. `n_col`
    weights the count (a previous state version's winner row carries its
    accumulated n_ops through the merge). Shared by the CDC apply and
    the temporal join (streaming/temporal_join.py)."""
    pick = F.max_by(
        F.struct(
            F.col("op_id").alias("last_op_id"),
            F.col("op_ts").alias("last_op_ts"),
            F.col("op").alias("last_op"),
            F.col("value").alias("last_value"),
        ),
        F.struct(F.col("op_ts"), F.col("op_id")),
    ).alias("w")
    n = (F.sum(n_col) if n_col is not None else F.count("*"))
    return (
        df.groupBy("key")
        .agg(pick, n.cast("long").alias("n_ops"))
        .select("key", "w.*", "n_ops")
    )


def merge_state_version(
    prev_state: DataFrame, batch_winners: DataFrame
) -> DataFrame:
    """Fold a batch's per-key winners into the previous state version
    (typed empty before the first): the SAME aggregate — the previous
    winner row (carrying its accumulated n_ops) competes with the batch
    winner row; max_by picks the newer, sum accumulates the counts."""
    as_ops = lambda df: df.select(  # noqa: E731
        "key",
        F.col("last_op_id").alias("op_id"),
        F.col("last_op_ts").alias("op_ts"),
        F.col("last_op").alias("op"),
        F.col("last_value").alias("value"),
        F.col("n_ops").alias("__n"),
    )
    return changelog_winners(
        as_ops(prev_state).unionByName(as_ops(batch_winners)), "__n"
    )


def stream_cdc_apply(
    spark: SparkSession,
    ops_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    delay: str,
    chunk_col: str = "__chunk",
    snapshot: DataFrame | None = None,
) -> DataFrame:
    """Materialize a keyed changelog stream (`ops_chunked`: op_id,
    op_ts, key, op in {'U','D'}, value, `chunk_col`) staged as
    `n_chunks` micro-batch drops into the current-state snapshot
    (key, last_op_id, last_op_ts, last_op, last_value) of every live
    (non-deleted) key, under an event-time watermark of `delay`
    (an INTERVAL literal, e.g. '2 days'). Deterministic given the drop
    boundaries — the DuckDB oracle replays admission + argmax.

    `snapshot` bootstraps the materialization from an existing state
    (the Debezium/Flink snapshot-first handoff: read the table once,
    then stream only the changelog tail). It must be WINNERS-form
    (key, last_op_id, last_op_ts, last_op, last_value, n_ops) and
    UNFILTERED — delete tombstones included, i.e. `load_cdc_state`
    of the prior run, NOT its user-facing return: a late-but-admitted
    op with a timestamp older than a pre-snapshot delete must LOSE to
    the tombstone, which it can only do if the tombstone rides along.
    The seed becomes state version -1 and the watermark continues from
    max(last_op_ts) - delay, so the handoff is bit-equal to having
    streamed the whole changelog (pinned in tests/test_cdc_apply.py)."""
    src = stage_chunked_by(
        ops_chunked, os.path.join(state_dir, "src"),
        chunk_col=chunk_col, n_chunks=n_chunks, columns=OPS_COLUMNS,
    )
    state = os.path.join(state_dir, "state")
    commit = BatchCommit(
        state_dir, scoped=(state,), versioned=(state,),
        meta_dir=os.path.join(state_dir, "offsets"),
    )
    clock = EventClock(spark, commit, src, OPS_SCHEMA, "op_ts", delay)

    if snapshot is not None and commit.meta(-1, None) is None:
        # idempotent, crash-safe seeding: state parquet first
        # (overwrite), the offsets file LAST as the commit point; a
        # reseed after a mid-seed crash just overwrites
        snapshot.write.mode("overwrite").parquet(batch_dir(state, -1))
        mx = snapshot.agg(F.max("last_op_ts")).first()[0]
        commit.write_meta(-1, clock.fold({}, mx))

    def process(batch: DataFrame, batch_id: int) -> Publish:
        t = clock.tick(batch, batch_id)
        batch_w = changelog_winners(
            t.admitted.withColumn("__n", F.lit(1)), "__n"
        )
        merged = merge_state_version(
            read_version(spark, state, batch_id - 1, STATE_SCHEMA), batch_w
        )
        return Publish(
            [overwrite(merged, batch_dir(state, batch_id))], meta=t.meta
        )

    commit.drain(spark, src, OPS_SCHEMA, process)
    last = _last_state(spark, state)
    if last is None:
        return spark.createDataFrame([], STATE_SCHEMA)
    return last.filter(F.col("last_op") != "D")


def _last_state(spark: SparkSession, state: str) -> DataFrame | None:
    """The newest state version (``batch--1`` is the seed), or None."""
    vs = versions(state)
    return read_version(spark, state, vs[-1], STATE_SCHEMA) if vs else None


def load_cdc_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The UNFILTERED winners state (delete tombstones included) of a
    completed `stream_cdc_apply` run — the handoff snapshot for
    bootstrapping another materialization (`snapshot=` above). The
    user-facing return filters tombstones and must NOT be used as a
    seed: without the tombstone, a late-but-admitted op older than a
    pre-snapshot delete would resurrect the deleted key."""
    last = _last_state(spark, os.path.join(state_dir, "state"))
    if last is None:
        raise FileNotFoundError(f"no state versions under {state_dir}")
    return last


# re-export for callers that stage their own chunks
__all__ = [
    "stream_cdc_apply", "changelog_winners", "merge_state_version",
    "load_cdc_state", "stage_chunked_by", "IncrementalDedup",
]
