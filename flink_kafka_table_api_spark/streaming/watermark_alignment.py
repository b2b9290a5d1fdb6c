"""Watermark ALIGNMENT across sources (the throttling complement of
`streaming/idle_watermark.py`'s idleness handling; together they cover
Flink's multi-source watermark toolbox).

Flink's watermark alignment (public docs / FLIP-182,
`withWatermarkAlignment(group, maxAllowedWatermarkDrift, ...)`) solves
the opposite problem from idleness: a source that runs AHEAD of the
group forces every watermark-bounded operator to buffer its rows until
the stragglers catch up — unbounded state growth from a fast source.
Aligned sources PAUSE consuming when their local watermark exceeds the
group's minimum by more than the allowed drift, and resume as the group
advances. Nothing is dropped; rows are deferred.

The deterministic micro-batch twin, on the repo's foreachBatch
state-machine recipe (throttling is made replayable at drop
boundaries, the same determinism trade every sibling module makes):

  per micro-batch k (foreachBatch):
    1. AVAIL:   this drop's rows — minus FRESH arrivals already behind
                the aligned watermark (ts <= W_{k-1}: the standard
                lateness contract, which is what makes every emitted
                window FINAL; alignment by itself only throttles and
                says nothing about finality) — plus the carried
                DEFERRED backlog (deferred rows were accepted when they
                arrived and are never re-judged: their ts exceeded an
                admission ceiling, so they cannot be late);
    2. GATE:    admission ceiling A_k = min over seen sources of
                M_{s,k-1} + drift, where M_{s,k-1} = max ts of s's rows
                ADMITTED through batch k-1 (batch 0 is unthrottled:
                alignment activates once watermarks exist, and the
                first drop IS the first watermark report — Flink's
                first records likewise flow before alignment kicks in);
                sources never seen do not constrain the min (the
                idle_watermark rule — a source that has not spoken
                cannot hold the group);
    3. TAKE:    each source admits its available rows with ts <= A_k;
                the rest carry to batch k+1 (DEFERRED, never dropped —
                alignment throttles, lateness policy is a different
                operator);
    4. MERGE:   admitted rows fold into per-(source, window) DECIMAL
                partials (the idle_watermark pending-store shape);
    5. EMIT:    aligned watermark W_k = min over seen sources of
                M_{s,k} - delay; a pending window leaves the store
                tagged batch_id = k when W_k >= window_end AND none of
                its rows are still deferred (max admit batch <= k —
                both conditions replayed by the oracle as
                max(first k with W_k >= end, last admit batch));
                everything else flushes as batch_id = n_chunks;
    6. PUBLISH: out/batch-k + pending/batch-k + deferred/batch-k +
                wm/batch-k.json under the batch_commit protocol.

What the gate form observes: the 'click' source delivers its ENTIRE
30-day range in drop 0 (a firehose source); with drift = 3 days its
far-future rows defer across batches until the other sources' maxima
advance — the per-window batch_id shifts relative to an unthrottled
run, and the deferred-backlog row counts per batch are the throttle
trace (`load_deferred_counts`).

At 100 TB: the deferred store materializes exactly the backlog Flink
would leave sitting IN the paused source partition (the batch-twin
trade `event_temporal_join` makes for buffered probes); its size is
bounded by how far ahead a source runs within one drop, and the
per-batch work is one keyed partial aggregate + a union-fold merge —
never O(stream age).

Reference anchor: same lifecycle generalization as idle_watermark
(TransactionProcessor.java:192,215-223); the alignment rule itself is
Flink's public FLIP-182 / withWatermarkAlignment surface.

DuckDB oracle: `stream_watermark_alignment_sql` (queries.py) unrolls
the three batch layers (A_1 from batch-0 maxima, A_2 from batch-1
maxima) so each row's admit batch is a CASE over its ts against the
A-ceilings, then replays windowing and the two-condition emission rule
relationally.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.streaming.idle_watermark import (
    _PENDING_SCHEMA,
    merge_pending,
    window_partials,
)
from flink_kafka_table_api_spark.streaming.batch_commit import (
    BatchCommit,
    Publish,
    batch_dir,
    overwrite,
    read_version,
    versions,
)
from flink_kafka_table_api_spark.streaming.late_data import (
    stage_chunked_by,
    ts_shift,
    utc_iso,
)

_ROWS_SCHEMA = "source string, ts timestamp, value double"


def stream_watermark_alignment(
    spark: SparkSession,
    rows_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    delay: str,
    drift: str,
    window: str = "1 day",
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    chunk_col: str = "__chunk",
) -> DataFrame:
    """Tumbling per-(source, window) aggregation of a multi-source
    stream under watermark ALIGNMENT: a source's rows admit only while
    its event time is within `drift` of the group's minimum admitted
    maximum; rows beyond defer to later batches (never dropped).
    Returns (source, window_start, window_end, n_events, sum_value,
    batch_id) with batch_id = the batch that could finally emit the
    window (aligned watermark passed AND no row still deferred);
    n_chunks = terminal flush. Deterministic given the drop
    boundaries."""
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
    out_dir = os.path.join(state_dir, "out")
    pend_dir = os.path.join(state_dir, "pending")
    defer_dir = os.path.join(state_dir, "deferred")
    commit = BatchCommit(
        state_dir, scoped=(out_dir, pend_dir, defer_dir),
        versioned=(pend_dir, defer_dir),
        meta_dir=os.path.join(state_dir, "wm"),
    )

    def process(batch: DataFrame, batch_id: int) -> Publish:
        prev = commit.meta(batch_id - 1, {"max_admitted": {}})
        # lateness contract for FRESH arrivals (emitted windows stay
        # final); W_{k-1} = min over seen sources of admitted max - delay
        fresh = batch
        if prev["max_admitted"]:
            w_prev = ts_shift(min(prev["max_admitted"].values()), delay)
            fresh = batch.filter(
                F.col("ts") > F.lit(w_prev).cast("timestamp")
            )
        avail = fresh.unionByName(
            read_version(spark, defer_dir, batch_id - 1, _ROWS_SCHEMA)
        ).persist()
        # 2. GATE — the admission ceiling from carried per-source maxima
        # (|sources| scalars in the offsets json, the quota.py bounded-
        # metadata precedent; batch 0 is unthrottled)
        if prev["max_admitted"]:
            floor_iso = min(prev["max_admitted"].values())
            a_k = ts_shift(floor_iso, drift, sign=1)
            admitted = avail.filter(
                F.col("ts") <= F.lit(a_k).cast("timestamp")
            )
            deferred = avail.filter(
                F.col("ts") > F.lit(a_k).cast("timestamp")
            )
        else:
            admitted, deferred = avail, avail.filter(F.lit(False))
        # 3. TAKE — update per-source admitted maxima
        batch_max = {
            r["source"]: utc_iso(r["mx"])
            for r in admitted.groupBy("source")
            .agg(F.max("ts").alias("mx")).collect()
        }
        max_admitted = dict(prev["max_admitted"])
        for s, mx in batch_max.items():
            max_admitted[s] = max(max_admitted.get(s, mx), mx)
        # aligned watermark over SEEN sources
        wm = None
        if max_admitted:
            wm = ts_shift(min(max_admitted.values()), delay)
        # 4. MERGE
        merged = merge_pending(
            read_version(spark, pend_dir, batch_id - 1, _PENDING_SCHEMA),
            window_partials(admitted, window),
        ).persist()
        # 5. EMIT — watermark passed AND no row of the window deferred.
        # A deferred row's window cannot emit yet: defer the WINDOW by
        # anti-joining pending against the deferred rows' window keys.
        defer_windows = deferred.select(
            "source", F.window("ts", window).alias("__w")
        ).select(
            "source",
            F.col("__w.start").alias("window_start"),
            F.col("__w.end").alias("window_end"),
        ).distinct()
        ready = (
            merged.filter(F.col("window_end") <= F.lit(wm)
                          .cast("timestamp"))
            if wm is not None else merged.filter(F.lit(False))
        ).join(
            F.broadcast(defer_windows),
            ["source", "window_start", "window_end"], "left_anti",
        )
        carry = merged.join(
            ready.select("source", "window_start", "window_end"),
            ["source", "window_start", "window_end"], "left_anti",
        )
        # the deferred count rides its write as an observed metric
        # instead of a separate count job
        obs = Observation()
        return Publish([
            overwrite(
                ready.withColumn("batch_id", F.lit(batch_id).cast("long")),
                batch_dir(out_dir, batch_id),
            ),
            overwrite(carry, batch_dir(pend_dir, batch_id)),
            overwrite(
                deferred.select("source", "ts", "value")
                .observe(obs, F.count(F.lit(1)).alias("n")),
                batch_dir(defer_dir, batch_id),
            ),
        ], meta=lambda: {
            "max_admitted": max_admitted, "n_deferred": int(obs.get["n"]),
        }, release=[merged, avail])

    emitted = commit.drain(
        spark, src, _ROWS_SCHEMA, process,
        out_dir, _PENDING_SCHEMA + ", batch_id long",
    )
    last = commit.last()
    # terminal flush: deferred backlog joins the pending store, then
    # everything unemitted leaves as batch_id = n_chunks
    leftover = merge_pending(
        read_version(spark, pend_dir, last, _PENDING_SCHEMA),
        window_partials(
            read_version(spark, defer_dir, last, _ROWS_SCHEMA), window
        ),
    ).withColumn("batch_id", F.lit(n_chunks).cast("long"))
    return emitted.unionByName(leftover).select(
        "source", "window_start", "window_end", "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        "batch_id",
    )


def load_deferred_counts(spark: SparkSession, state_dir: str) -> list[int]:
    """The throttle trace: rows deferred at each committed batch — the
    operational metric an alignment dashboard plots."""
    wm_dir = os.path.join(state_dir, "wm")
    commit = BatchCommit(state_dir, meta_dir=wm_dir)
    return [
        commit.meta(k, {}).get("n_deferred", 0) for k in versions(wm_dir)
    ]
