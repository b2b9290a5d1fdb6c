"""Retract-mode GROUP BY aggregation over an UPDATE stream (with
`streaming/retract.py` this completes Flink's update-mode query class).

`streaming/retract.py` ranks an APPEND stream's running sums;
`streaming/cdc_apply.py` materializes an update stream's current rows.
The class still missing between them is Flink's

    SELECT grp, COUNT(*), SUM(value) FROM upsert_stream GROUP BY grp

— a GROUP BY whose INPUT is itself an update stream (RowKind changelog
/ upsert-kafka source), so arriving rows do not just add: a key's new
version must RETRACT its old contribution from its old group's
aggregate and add to the new one, and a delete must subtract. Flink
routes this through retraction handling in the aggregate operator
(public Table API semantics: updating sources make downstream
aggregates update-mode); append-style folding is simply wrong here —
pinned by the regroup fixture below. The output is again a RowKind
changelog (+I / -U / +U / -D), since group rows appear, change, and
disappear as keys move between groups.

The Spark-first state machine (foreachBatch, batch_commit protocol):

  per micro-batch k:
    1. MERGE:  winners_k = per-key argmax by (op_ts, op_id) over
               carried winners_{k-1} ∪ the batch's ops — delete
               tombstones RIDE ALONG (the cdc_apply seed rule: a late
               op older than a tombstone must lose to it);
    2. AGG:    agg_k = per-grp (n_keys, DECIMAL(25,6) sum of value)
               over LIVE winners (op <> 'D') — each key contributes
               exactly its CURRENT version to exactly its CURRENT
               group: retraction is implicit in aggregating state
               instead of deltas, costing one hash aggregate of
               O(live keys) state (Flink pays the same state, held in
               the aggregate operator's accumulators);
    3. DIFF:   retract.rowkind_diff(agg_{k-1} -> agg_k): groups appearing emit
               +I, disappearing emit -D (old row), changing emit -U
               (old) then +U (new) — |groups|-sized full-outer join;
    4. PUBLISH state/batch-k + agg/batch-k + out/batch-k.

A consumer applying the changelog in (batch_id, op) order materializes
exactly the batch GROUP BY of the current state (pinned by replay in
tests). Determinism: no watermark here — admission/lateness is proved
separately (cdc_apply, stream_late_events); given drop boundaries the
ops are a pure function of per-batch cumulative argmax state, so the
DuckDB oracle rebuilds per-batch snapshots and diffs them.

At 100 TB: state is one row per live key (Flink's ValueState), the
per-batch merge shuffles O(batch + touched state) rows on the key, the
aggregate is map-side-combined per grp, and the diff is |groups| rows.
Nothing re-reads the stream; nothing is O(stream age).

Reference anchor: the reference pipeline's insert-only aggregation is
the degenerate case of this operator (TransactionProcessor.java:192 —
append stream, no retraction); the update-mode semantics generalized
here are Flink's public toChangelogStream/toRetractStream surface.

DuckDB oracle: `stream_agg_retract_sql` (queries.py).
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
)
from flink_kafka_table_api_spark.streaming.late_data import stage_chunked_by
from flink_kafka_table_api_spark.streaming.retract import rowkind_diff

OPS_COLUMNS = ["op_id", "op_ts", "key", "grp", "op", "value"]
OPS_SCHEMA = (
    "op_id long, op_ts timestamp, key long, grp string, op string, "
    "value double"
)
_STATE_SCHEMA = (
    "key long, op_id long, op_ts timestamp, grp string, op string, "
    "value double"
)
_AGG_SCHEMA = "grp string, n_keys long, total decimal(25,6)"
_OUT_SCHEMA = (
    "op string, grp string, n_keys long, total double, batch_id long"
)


def _winners(ops: DataFrame) -> DataFrame:
    """Per-key argmax by (op_ts, op_id) as a max_by HASH aggregate (the
    cdc_apply recipe) — partial-agg friendly, so a celebrity key
    combines map-side instead of sorting its whole history in one task
    (a row_number window would be sort-based)."""
    pick = F.max_by(
        F.struct("op_id", "op_ts", "grp", "op", "value"),
        F.struct("op_ts", "op_id"),
    ).alias("__w")
    return ops.groupBy("key").agg(pick).select(
        "key", "__w.op_id", "__w.op_ts", "__w.grp", "__w.op",
        "__w.value",
    )


def _group_agg(winners: DataFrame) -> DataFrame:
    return (
        winners.filter(F.col("op") != "D")
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum(F.col("value").cast("decimal(25,6)"))
            .cast("decimal(25,6)").alias("total"),
        )
    )


def changelog(prev: DataFrame, cur: DataFrame, batch_id: int) -> DataFrame:
    """The RowKind changelog of the group aggregates from batch
    `batch_id` - 1 to `batch_id`."""
    return rowkind_diff(prev, cur, "grp", ("n_keys", "total")).withColumn(
        "batch_id", F.lit(batch_id).cast("long")
    )


def stream_agg_retract(
    spark: SparkSession,
    ops_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    chunk_col: str = "__chunk",
) -> DataFrame:
    """GROUP BY (grp) COUNT/SUM over an upsert/delete changelog
    (`ops_chunked`: op_id, op_ts, key, grp, op in {'U','D'}, value,
    `chunk_col`) delivered as `n_chunks` drops; returns the RowKind
    changelog (op, grp, n_keys, total, batch_id) whose application in
    (batch_id, op) order materializes each batch's group aggregates of
    the CURRENT key state. Deterministic given the drop boundaries."""
    src = stage_chunked_by(
        ops_chunked, os.path.join(state_dir, "src"),
        chunk_col=chunk_col, n_chunks=n_chunks, columns=OPS_COLUMNS,
    )
    out_dir = os.path.join(state_dir, "out")
    state_dir_v = os.path.join(state_dir, "state")
    agg_dir = os.path.join(state_dir, "agg")
    commit = BatchCommit(
        state_dir, scoped=(out_dir, state_dir_v, agg_dir),
        versioned=(state_dir_v, agg_dir),
    )

    def process(batch: DataFrame, batch_id: int) -> Publish:
        merged = _winners(
            read_version(spark, state_dir_v, batch_id - 1, _STATE_SCHEMA)
            .unionByName(batch.select(
                "key", "op_id", "op_ts", "grp", "op", "value"
            ))
        ).persist()
        agg = _group_agg(merged).persist()
        prev_agg = read_version(spark, agg_dir, batch_id - 1, _AGG_SCHEMA)
        return Publish([
            overwrite(changelog(prev_agg, agg, batch_id),
                      batch_dir(out_dir, batch_id)),
            overwrite(merged, batch_dir(state_dir_v, batch_id)),
            overwrite(agg, batch_dir(agg_dir, batch_id)),
        ], release=[merged, agg])

    return commit.drain(spark, src, OPS_SCHEMA, process, out_dir, _OUT_SCHEMA)
