"""Per-partition watermark alignment with idle-source handling.

Flink's multi-source watermarking (public docs: WatermarkStrategy
`withIdleness`, per-partition watermark combination) keeps ONE watermark
per source/partition — W_s = max(ts seen by s) − delay — and combines
them as the MIN over sources, because an aggregate spanning sources may
only finalize when EVERY source has passed it. The min has a failure
mode: a source that goes quiet pins the global watermark forever, so
Flink lets a source be marked IDLE after a processing-time gap and
EXCLUDED from the min until it emits again.

This module is the deterministic micro-batch twin, on the repo's
foreachBatch state-machine recipe. Processing-time idleness is made
replayable by measuring it in BATCHES (the same determinism trade every
sibling module makes at drop boundaries):

  per micro-batch k (foreachBatch):
    1. ADMIT:   rows with ts > W_{k-1} (the global idleness-aware
                watermark after the previous batch; too-late rows drop
                deterministically — the stream_late_events contract);
    2. TRACK:   per-source cumulative max ts over DELIVERED rows —
                Flink's watermark generators run at the source, before
                lateness filtering, so late rows still advance their
                partition's watermark; active(s, k) = s delivered >= 1
                row in THIS batch (idle_timeout = 1 batch; a source
                that wakes up — any new row — rejoins the combine,
                Flink's rule);
    3. COMBINE: W_k = max(W_{k-1},
                          min over active s of (max_ts_s − delay));
                the outer max pins monotonicity (Flink watermarks never
                regress) and doubles as the all-idle rule (no active
                source -> W_k = W_{k-1});
    4. MERGE:   per-(source, tumbling window) partials folded into the
                pending store (counts + DECIMAL sums — order-free);
    5. EMIT:    pending windows with window_end <= W_k leave the store
                tagged batch_id = k; whatever survives the final batch
                flushes as batch_id = n_chunks;
    6. PUBLISH: out/batch-k + pending/batch-k + wm/batch-k.json under
                the batch_commit protocol.

Why this is the behavior that matters: with the plain min-combine, one
idle source freezes W at its last timestamp and EVERY window emits only
at the terminal flush; with idleness handling the live sources keep
finalizing. The gate form silences one event_type after the first drop
— the batch_id column is the observable difference (pinned in
tests/test_idle_watermark.py: idleness on emits windows at batches 1/2,
the min-combine control run emits everything at the flush).

Every emitted aggregate is complete: window w emits at the first k with
w_end <= W_k; any row of w admitted at a later batch j > k would need
ts_row < w_end <= W_k <= W_{j-1}, which admission rejects — the same
argument as streaming/windows.py, with the idleness-aware W.

Scale shape: state is |sources| counters + |windows in flight| partial
rows; the per-batch work is one keyed partial aggregate of the batch
plus a broadcast-size read of carried state. At 100 TB this is Flink's
own per-partition watermark state, expressed as data instead of
operator internals.

Reference anchor: the reference is a single-source continuous-insert
Flink pipeline (TransactionProcessor.java:192,215-223) whose watermark
strategy is the public Table API's per-source default; this module
generalizes that lifecycle to the MULTI-source combination rules the
same public API exposes (withIdleness — Flink docs, "Dealing With Idle
Sources").

DuckDB oracle: `stream_idle_watermark_sql` (queries.py) replays
chunk-by-chunk admission, per-source cumulative maxima, the
active-set min-combine, and emission batches, relationally.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.functions.portable import DEC
from flink_kafka_table_api_spark.streaming.chunk_stats import (
    ChunkStats,
    stat_group_max,
)
from flink_kafka_table_api_spark.streaming.batch_commit import (
    BatchCommit,
    Publish,
    batch_dir,
    overwrite,
    read_version,
)
from flink_kafka_table_api_spark.streaming.late_data import (
    stage_chunked_by,
    ts_shift,
    utc_iso,
)

_PENDING_SCHEMA = (
    "source string, window_start timestamp, window_end timestamp, "
    "n_events long, sum_value decimal(25,6)"
)


def window_partials(admitted: DataFrame, window: str) -> DataFrame:
    """Per-(source, tumbling window) DECIMAL partials of one batch —
    one map-side-partial keyed aggregate, order-free by construction."""
    return admitted.select(
        "source",
        F.window("ts", window).alias("__w"),
        F.col("value").cast(DEC).alias("__v"),
    ).groupBy(
        "source",
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("__v").cast("decimal(25,6)").alias("sum_value"),
    )


def merge_pending(pending: DataFrame, partial: DataFrame) -> DataFrame:
    """Fold a batch's partials into the carried pending store: union +
    re-aggregate (decimal sums are order-free), NO join node — pending
    state stays |windows in flight| rows."""
    return pending.unionByName(partial).groupBy(
        "source", "window_start", "window_end"
    ).agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("sum_value").cast("decimal(25,6)").alias("sum_value"),
    )


def stream_idle_watermark(
    spark: SparkSession,
    rows_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    delay: str,
    window: str = "1 day",
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    chunk_col: str = "__chunk",
    idleness: bool = True,
) -> DataFrame:
    """Tumbling per-(source, window) aggregation of a multi-source
    stream under per-source watermarks with idle-source exclusion.
    Returns (source, window_start, window_end, n_events, sum_value,
    batch_id) where batch_id is the micro-batch whose combined
    watermark finalized the window (n_chunks = terminal flush).
    `idleness=False` is the plain min-combine control run (the behavior
    Flink exhibits WITHOUT withIdleness) — kept for the semantics pin,
    not a gate form."""
    src = stage_chunked_by(
        rows_chunked.select(
            F.col(source_col).alias("source"),
            F.col(ts_col).cast("timestamp").alias("ts"),
            F.col(value_col).cast("double").alias("value"),
            F.col(chunk_col).alias("__chunk"),
        ),
        os.path.join(state_dir, "src"),
        chunk_col="__chunk", n_chunks=n_chunks,
        columns=["source", "ts", "value"],
    )
    ckpt = os.path.join(state_dir, "ckpt")
    # per-source watermark maxima ride ONE staging-time job instead of
    # one grouped-agg job per micro-batch (chunk_stats.py; guide §1.2)
    stats = ChunkStats(
        spark, src, "source string, ts timestamp, value double",
        {"mx": F.max("ts")}, keys=("source",),
    )
    out_dir = os.path.join(state_dir, "out")
    pend_dir = os.path.join(state_dir, "pending")
    commit = BatchCommit(
        state_dir, scoped=(out_dir, pend_dir), versioned=(pend_dir,),
        meta_dir=os.path.join(state_dir, "wm"),
    )

    def process(batch: DataFrame, batch_id: int) -> Publish:
        prev = commit.meta(batch_id - 1, {"watermark": None, "max_seen": {}})
        admitted = (
            batch if prev["watermark"] is None
            else batch.filter(F.col("ts") > F.lit(prev["watermark"])
                              .cast("timestamp"))
        )
        # 2. TRACK — per-source maxima and this batch's active set,
        # over the DELIVERED batch (pre-admission): Flink's watermark
        # generators run at the source, before lateness filtering, so a
        # late row still advances its partition's watermark. |sources|
        # rows: a bounded-metadata collect (the quota.py precedent),
        # never data rows.
        srows = stats.for_batch(ckpt, batch_id)
        if srows is None:  # in-batch aggregate fallback
            batch_max = {
                r["source"]: utc_iso(r["mx"])
                for r in batch.groupBy("source")
                .agg(F.max("ts").alias("mx")).collect()
            }
        else:
            batch_max = {
                k: utc_iso(v)
                for k, v in stat_group_max(srows, "source", "mx").items()
            }
        max_seen = dict(prev["max_seen"])
        for s, mx in batch_max.items():
            max_seen[s] = max(max_seen.get(s, mx), mx)
        active = set(batch_max) if idleness else set(max_seen)
        # 3. COMBINE — idleness-aware, monotone
        wm = prev["watermark"]
        if active:
            cand = min(max_seen[s] for s in active)
            cand = ts_shift(cand, delay)
            wm = cand if wm is None else max(wm, cand)
        # 4. MERGE — order-free decimal partials into the pending store
        merged = merge_pending(
            read_version(spark, pend_dir, batch_id - 1, _PENDING_SCHEMA),
            window_partials(admitted, window),
        ).persist()
        # 5. EMIT / CARRY split on the new watermark
        ready = (
            merged.filter(F.col("window_end") <= F.lit(wm)
                          .cast("timestamp"))
            if wm is not None
            else merged.filter(F.lit(False))
        )
        carry = (
            merged.filter(F.col("window_end") > F.lit(wm)
                          .cast("timestamp"))
            if wm is not None else merged
        )
        return Publish([
            overwrite(
                ready.withColumn("batch_id", F.lit(batch_id).cast("long")),
                batch_dir(out_dir, batch_id),
            ),
            overwrite(carry, batch_dir(pend_dir, batch_id)),
        ], meta={"watermark": wm, "max_seen": max_seen}, release=[merged])

    emitted = commit.drain(
        spark, src, "source string, ts timestamp, value double", process,
        out_dir, _PENDING_SCHEMA + ", batch_id long",
    )
    # terminal flush: windows the watermark never passed
    flush = read_version(
        spark, pend_dir, commit.last(), _PENDING_SCHEMA
    ).withColumn("batch_id", F.lit(n_chunks).cast("long"))
    return emitted.unionByName(flush).select(
        "source", "window_start", "window_end", "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        "batch_id",
    )
