"""Event-time OVER aggregation on a stream (built round 8,
registration-bound for a round-9/10 gate slot).

Flink's third aggregation class (after GROUP BY windows and windowing
TVFs) is the OVER window: one output row PER INPUT ROW carrying an
aggregate over the key's preceding event-time range —

    SELECT ..., SUM(value) OVER (PARTITION BY key ORDER BY ts
                                 RANGE BETWEEN INTERVAL '1' DAY
                                 PRECEDING AND CURRENT ROW)

(public Flink SQL surface, "Over Aggregation"; the reference delegates
exactly this class of planning to Flink, TransactionProcessor.java:106).
Spark Structured Streaming has no streaming window functions at all —
`Window.partitionBy(...).orderBy(...)` is batch-only — so this module
implements the operator with the round-8 foreachBatch state machine:

  per micro-batch k (foreachBatch):
    1. ADMIT:   rows with ts > W_{k-1} (the stored watermark); rows at
                or below it are too late — their emission horizon has
                passed — and drop DETERMINISTICALLY (dropped rows still
                advance the watermark: stats upstream of the filter,
                the same contract every sibling module pins);
    2. ADVANCE: W_k = max(ts SEEN through batch k) - delay;
    3. EMIT:    live rows (carried pending + admitted) with ts <= W_k
                are FINAL: any row that could still arrive and land in
                their preceding range would need ts > W_k >= their ts,
                i.e. it could only be in THEIR future. Compute the
                range aggregate over (emitted rows + the carried
                context tail) with ONE batch window function and emit;
    4. CARRY:   context_k = rows already emitted with ts > W_k - range
                (the only history a future row's preceding range can
                reach); pending_k = live rows with ts > W_k (their own
                emission horizon is still open).

Why emitted aggregates are complete: a row e emits at batch k with
e.ts <= W_k. Every admitted row in e's range has ts <= e.ts; it was
admitted at some batch <= k (admission later would require
ts > W_k >= e.ts), so it is in the emit set or the context tail of
batch k — the two sets the window scan runs over. Carried pending rows
(ts > W_k) are provably OUTSIDE every emitted row's preceding range
(their ts exceeds W_k >= e.ts) and are therefore correctly excluded
from the scan. Rows the watermark dropped are absent from BOTH the
output and other rows' aggregates, exactly Flink's late-row semantics.

This is Flink's own state shape for OVER windows: per key, the rows
inside the preceding range of the stream head (context) plus the
out-of-orderness buffer (pending). State is bounded by range + lateness
horizon width — never by stream age. Per-batch cost: ONE keyed window
over O(batch + context) rows.

Crash safety: the batch_commit protocol over emitted/batch-k,
context/batch-k, pending/batch-k and offsets/batch-k.json.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.functions.portable import DEC
from flink_kafka_table_api_spark.streaming.chunk_stats import (
    ChunkStats,
    stat_max,
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
)

ROW_COLUMNS = ["row_id", "ts", "key", "value"]
_SCHEMA = "row_id long, ts timestamp, key long, value double"
_NO_META = {"watermark": None, "max_seen": None}


def _commit(state_dir: str) -> tuple[BatchCommit, str, str, str]:
    """Both frames' layout: the emitted result sink (kept whole) plus the
    context and pending state tails (pruned to KEEP_VERSIONS)."""
    emitted, context, pending = (
        os.path.join(state_dir, d) for d in ("emitted", "context", "pending")
    )
    commit = BatchCommit(
        state_dir, scoped=(emitted, context, pending),
        versioned=(context, pending),
        meta_dir=os.path.join(state_dir, "offsets"),
    )
    return commit, emitted, context, pending


def over_range_agg(
    rows: DataFrame,
    range_seconds: int,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """The batch form of the OVER aggregate both paths share: per row,
    COUNT and DECIMAL-exact SUM over the key's preceding event-time
    range [ts - range, ts] (inclusive both ends, peers included —
    RANGE frame semantics in Spark, DuckDB and Flink alike).

    NOT the naive `Window.partitionBy(key)` — that puts a zipf-hot
    key's entire history into ONE task's sort (measured 4.5x under the
    8x zipf redraw). Banded decomposition instead: bins of width
    `range_seconds` make the frame span exactly its own bin's prefix
    plus the previous bin's suffix, so

      agg(row) = prefix(own bin, ts inclusive-of-peers)
               + [total(prev bin) - prefix(prev bin, strictly < ts-X)]

    computed with ONE window over (key, bin) partitions — a hot key
    parallelizes across its time bins, and the worst partition is the
    key's densest 2X-window, which is the theoretical minimum context
    for this frame. The strictly-less prefix rides the SAME window scan
    as a zero-valued PROBE row at scaled position 2*(ts-X)-1 (reals sit
    at even 2*ts, so parity encodes the inclusive/exclusive boundary
    and RANGE peers still collapse). A final row_id-keyed aggregate
    (uniform by construction) recombines the two terms. DECIMAL
    accumulation keeps the split sums bit-equal to the monolithic
    window's."""
    x = range_seconds
    e = F.col("ts").cast("long")
    r = rows.withColumn("__bin", F.floor(e / F.lit(x)))
    carried = [*ROW_COLUMNS, *extra_cols]
    real = r.select(
        *carried,
        "__bin",
        (e * 2).alias("__pos"),
        F.lit(1).cast("long").alias("__n"),
        F.col("value").cast(DEC).alias("__v"),
        F.lit(False).alias("__probe"),
    )
    probe = r.select(
        *carried,
        (F.col("__bin") - 1).alias("__bin"),
        ((e - x) * 2 - 1).alias("__pos"),
        F.lit(0).cast("long").alias("__n"),
        F.lit(None).cast(DEC).alias("__v"),
        F.lit(True).alias("__probe"),
    )
    u = real.unionByName(probe)
    pre = (
        Window.partitionBy("key", "__bin")
        .orderBy("__pos")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("key", "__bin")
    scanned = u.select(
        *carried,
        "__probe",
        F.sum("__n").over(pre).alias("__pn"),
        F.sum("__v").over(pre).alias("__pv"),
        F.sum("__n").over(tot).alias("__tn"),
        F.sum("__v").over(tot).alias("__tv"),
    )
    # real row contributes its own-bin prefix; its probe contributes the
    # previous bin's suffix (total - strictly-before prefix)
    contrib = scanned.select(
        *carried,
        F.when(F.col("__probe"),
               F.col("__tn") - F.coalesce(F.col("__pn"), F.lit(0)))
        .otherwise(F.col("__pn")).alias("__cn"),
        F.when(
            F.col("__probe"),
            F.coalesce(F.col("__tv"), F.lit(0).cast(DEC))
            - F.coalesce(F.col("__pv"), F.lit(0).cast(DEC)),
        ).otherwise(F.coalesce(F.col("__pv"), F.lit(0).cast(DEC)))
        .alias("__cv"),
    )
    return (
        contrib.groupBy("row_id")
        .agg(
            *[F.max(c).alias(c) for c in carried if c != "row_id"],
            F.sum("__cn").cast("long").alias("n_win"),
            F.sum("__cv").cast("double").alias("sum_win"),
        )
        .select(*carried, "n_win", "sum_win")
    )


def stream_over_agg(
    spark: SparkSession,
    rows_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    delay: str,
    range_seconds: int,
    chunk_col: str = "__chunk",
) -> DataFrame:
    """Run the event-time OVER aggregation over `rows_chunked`
    (row_id, ts, key, value, `chunk_col`) staged as `n_chunks`
    micro-batch drops; return every row finalized by the terminal
    watermark with its preceding-range aggregates — bit-identical to
    the batch window function over the watermark-admitted subset
    (the DuckDB oracle in queries.py replays exactly that)."""
    src = stage_chunked_by(
        rows_chunked, os.path.join(state_dir, "src"),
        chunk_col=chunk_col, n_chunks=n_chunks, columns=ROW_COLUMNS,
    )
    ckpt = os.path.join(state_dir, "ckpt")
    # watermark-advance maxima ride ONE staging-time job instead of one
    # agg job per micro-batch (chunk_stats.py; guide §1.2)
    stats = ChunkStats(spark, src, _SCHEMA, {"mx": F.max("ts")})
    commit, emitted_dir, context_dir, pending_dir = _commit(state_dir)

    def process(batch: DataFrame, batch_id: int) -> Publish:
        prev = commit.meta(batch_id - 1, _NO_META)
        batch = batch.select(*ROW_COLUMNS)
        admitted = (
            batch if prev["watermark"] is None
            else batch.filter(F.col("ts") > prev["watermark"])
        )
        live = read_version(
            spark, pending_dir, batch_id - 1, _SCHEMA
        ).unionByName(admitted)
        # advance the watermark from everything SEEN (sidecar; in-batch
        # aggregate only if this batch's files don't resolve)
        srows = stats.for_batch(ckpt, batch_id)
        batch_max = (
            batch.agg(F.max("ts")).first()[0] if srows is None
            else stat_max(srows, "mx")
        )
        candidates = [
            m for m in (prev["max_seen"], None if batch_max is None
                        else batch_max.isoformat()) if m is not None
        ]
        max_seen = max(candidates) if candidates else None
        new_wm = None
        if max_seen is not None:
            new_wm = ts_shift(max_seen, delay)
        live = live.persist()
        emit = (
            live if new_wm is None
            else live.filter(F.col("ts") <= new_wm)
        )
        pending = (
            live.limit(0) if new_wm is None
            else live.filter(F.col("ts") > new_wm)
        )
        context = read_version(spark, context_dir, batch_id - 1, _SCHEMA)
        # ONE banded (key, bin) window over emit + context; only emit
        # rows leave (the shared skew-safe shape — see over_range_agg)
        scope = emit.withColumn("__ctx", F.lit(False)).unionByName(
            context.withColumn("__ctx", F.lit(True))
        )
        out = (
            over_range_agg(scope, range_seconds, extra_cols=("__ctx",))
            .filter(~F.col("__ctx"))
            .drop("__ctx")
        )
        # context tail: emitted rows a future row's range can still reach
        new_context = context.unionByName(emit)
        if new_wm is not None:
            horizon = ts_shift(new_wm, f"{range_seconds} seconds")
            new_context = new_context.filter(F.col("ts") > horizon)
        return Publish([
            overwrite(out, batch_dir(emitted_dir, batch_id)),
            overwrite(new_context, batch_dir(context_dir, batch_id)),
            overwrite(pending, batch_dir(pending_dir, batch_id)),
        ], meta={"watermark": new_wm, "max_seen": max_seen}, release=[live])

    return commit.drain(
        spark, src, _SCHEMA, process,
        emitted_dir, _SCHEMA + ", n_win long, sum_win double",
    )


# ---------------------------------------------------------------------------
# ROWS-frame OVER aggregation (the second half of Flink's OVER class:
# ROWS BETWEEN n PRECEDING AND CURRENT ROW). Same state machine; the
# differences are the frame (count-based, ordered by the deterministic
# (ts, row_id) total order) and the context tail (the key's LAST n
# emitted rows instead of a time range). The completeness argument
# carries over: an emitted row's preceding rows all have ts at or below
# the watermark that emitted it, so they are already emitted or emitting
# alongside it — a still-admissible row would need ts strictly above
# that watermark and can only be in ITS OWN future frame.
# ---------------------------------------------------------------------------


def stream_over_rows_agg(
    spark: SparkSession,
    rows_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    delay: str,
    n_preceding: int,
    chunk_col: str = "__chunk",
) -> DataFrame:
    """The ROWS-frame twin of :func:`stream_over_agg`: every row
    finalized by the terminal watermark carries COUNT/SUM over its key's
    previous `n_preceding` rows plus itself — bit-identical to the batch
    ROWS window over the watermark-admitted subset."""
    src = stage_chunked_by(
        rows_chunked, os.path.join(state_dir, "src"),
        chunk_col=chunk_col, n_chunks=n_chunks, columns=ROW_COLUMNS,
    )
    ckpt = os.path.join(state_dir, "ckpt")
    stats = ChunkStats(spark, src, _SCHEMA, {"mx": F.max("ts")})
    commit, emitted_dir, context_dir, pending_dir = _commit(state_dir)

    def process(batch: DataFrame, batch_id: int) -> Publish:
        prev = commit.meta(batch_id - 1, _NO_META)
        batch = batch.select(*ROW_COLUMNS)
        admitted = (
            batch if prev["watermark"] is None
            else batch.filter(F.col("ts") > prev["watermark"])
        )
        live = read_version(
            spark, pending_dir, batch_id - 1, _SCHEMA
        ).unionByName(admitted)
        srows = stats.for_batch(ckpt, batch_id)
        batch_max = (
            batch.agg(F.max("ts")).first()[0] if srows is None
            else stat_max(srows, "mx")
        )
        candidates = [
            m for m in (prev["max_seen"], None if batch_max is None
                        else batch_max.isoformat()) if m is not None
        ]
        max_seen = max(candidates) if candidates else None
        new_wm = None
        if max_seen is not None:
            new_wm = ts_shift(max_seen, delay)
        live = live.persist()
        emit = (
            live if new_wm is None
            else live.filter(F.col("ts") <= new_wm)
        )
        pending = (
            live.limit(0) if new_wm is None
            else live.filter(F.col("ts") > new_wm)
        )
        context = read_version(spark, context_dir, batch_id - 1, _SCHEMA)
        scope = emit.withColumn("__ctx", F.lit(False)).unionByName(
            context.withColumn("__ctx", F.lit(True))
        )
        w = (
            Window.partitionBy("key")
            .orderBy(F.col("ts").cast("long"), F.col("row_id"))
            .rowsBetween(-n_preceding, 0)
        )
        out = (
            scope.select(
                *ROW_COLUMNS, "__ctx",
                F.count("*").over(w).cast("long").alias("n_win"),
                F.sum(F.col("value").cast(DEC)).over(w).cast("double")
                .alias("sum_win"),
            )
            .filter(~F.col("__ctx"))
            .drop("__ctx")
        )
        # context tail: the key's LAST n_preceding emitted rows — the
        # only rows a future row's ROWS frame can reach
        rank = (
            Window.partitionBy("key")
            .orderBy(
                F.col("ts").cast("long").desc(), F.col("row_id").desc()
            )
        )
        new_context = (
            context.unionByName(emit)
            .withColumn("__rn", F.row_number().over(rank))
            .filter(F.col("__rn") <= n_preceding)
            .drop("__rn")
        )
        return Publish([
            overwrite(out, batch_dir(emitted_dir, batch_id)),
            overwrite(new_context, batch_dir(context_dir, batch_id)),
            overwrite(pending, batch_dir(pending_dir, batch_id)),
        ], meta={"watermark": new_wm, "max_seen": max_seen}, release=[live])

    return commit.drain(
        spark, src, _SCHEMA, process,
        emitted_dir, _SCHEMA + ", n_win long, sum_win double",
    )
