"""Allowed lateness with a late-data side output (Flink's
`allowedLateness()` + `sideOutputLateData()`, the DataStream windowing
surface that completes
the repo's lateness-policy toolbox: DROP at the watermark
(streaming/windows.py), don't let an idle source stall the watermark
(idle_watermark), throttle a fast source (watermark_alignment), and now
CORRECT-AND-QUARANTINE).

Flink's three-zone lateness model (public docs, "Window Lifecycle /
Allowed Lateness"): a row arriving behind the watermark but within
`allowed` of it still updates its window — the window RE-FIRES with the
corrected aggregate (update-mode output); a row later than
watermark − allowed goes to the side output and the window's state is
eligible for cleanup at end + allowed. Plain watermark semantics
(allowed = 0) silently drops exactly the rows a data-quality team most
wants to see.

The deterministic micro-batch twin (foreachBatch, batch_commit protocol;
single watermark source, the multi-source rules are idle_watermark /
watermark_alignment's job):

  per micro-batch k:
    1. CLASSIFY: against W_{k-1} = max(delivered ts through k-1) − delay:
         on-time    ts >  W_{k-1}            (or batch 0)
         allowed    W_{k-1} − allowed < ts <= W_{k-1}
         quarantine ts <= W_{k-1} − allowed  -> the side output, emitted
                    as 'LATE' rows tagged with their arrival batch
                    (aggregated per window — the audit a pager reads);
    2. MERGE:    admitted rows (on-time + allowed) fold into per-window
                 DECIMAL partials; each window carries a FIRED flag;
    3. FIRE:     W_k advances (monotone, from DELIVERED maxima — the
                 generator-before-filtering rule); windows with
                 window_end <= W_k that never fired emit '+I'; windows
                 already fired that RECEIVED admitted rows this batch
                 re-fire as a correction: '-U' (previous aggregate)
                 then '+U' (corrected) — Flink's update-mode output;
    4. EVICT:    fired windows with window_end <= W_k − allowed can
                 never be corrected again (any further row of theirs
                 classifies as quarantine BY THE SAME RULE — eviction
                 is emergent from classification, not a second policy)
                 and leave the state;
    5. PUBLISH:  out/batch-k + state/batch-k + wm/batch-k.json.
    Terminal flush: never-fired windows emit '+I' tagged n_chunks.

Completeness/finality: '+I' fires are complete w.r.t. admitted rows
(the windows.py argument); corrections are exactly one '-U'/'+U' pair
per batch that delivered an admitted late row to a fired window, so a
consumer folding the changelog in (batch_id, op) order holds the
corrected aggregate at every point — and rows beyond the allowance are
VISIBLE in the side output instead of silently absent.

At 100 TB: state is windows inside the lateness horizon (width
delay + allowed — eviction is emergent), per-batch work one map-side-
partial keyed aggregate + a union-fold merge. The side output is the
production late-data audit table every ingest pipeline wants.

Reference anchor: generalizes the reference pipeline's single-source
continuous-insert lifecycle (TransactionProcessor.java:192,215-223)
with the public DataStream windowing lateness controls.

DuckDB oracle: `stream_allowed_lateness_sql` (queries.py) replays
classification per arrival chunk, first-fire schedule, per-batch
correction pairs, quarantine rows, and the terminal flush.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.functions.portable import DEC
from flink_kafka_table_api_spark.streaming.batch_commit import (
    BatchCommit,
    Publish,
    batch_dir,
    overwrite,
    read_version,
)
from flink_kafka_table_api_spark.streaming.late_data import (
    EventClock,
    stage_chunked_by,
    ts_shift,
)

_STATE_SCHEMA = (
    "window_start timestamp, window_end timestamp, n_events long, "
    "sum_value decimal(25,6), fired boolean"
)
_OUT_SCHEMA = (
    "op string, window_start timestamp, window_end timestamp, "
    "n_events long, sum_value double, batch_id long"
)


def _partials(rows: DataFrame, window: str) -> DataFrame:
    return rows.select(
        F.window("ts", window).alias("__w"),
        F.col("value").cast(DEC).alias("__v"),
    ).groupBy(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("__v").cast("decimal(25,6)").alias("sum_value"),
    )


def stream_allowed_lateness(
    spark: SparkSession,
    rows_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    delay: str,
    allowed: str,
    window: str = "1 day",
    ts_col: str = "ts",
    value_col: str = "value",
    chunk_col: str = "__chunk",
) -> DataFrame:
    """Tumbling windowed aggregation with allowed lateness: returns the
    changelog (op, window_start, window_end, n_events, sum_value,
    batch_id) where op is '+I' (first fire), '-U'/'+U' (correction pair
    for a late-but-allowed arrival after the fire), or 'LATE' (the side
    output: quarantined rows aggregated per window, tagged with their
    arrival batch). Deterministic given the drop boundaries."""
    src = stage_chunked_by(
        rows_chunked.select(
            F.col(ts_col).cast("timestamp").alias("ts"),
            F.col(value_col).cast("double").alias("value"),
            F.col(chunk_col).alias("__chunk"),
        ),
        os.path.join(state_dir, "src"),
        chunk_col="__chunk", n_chunks=n_chunks, columns=["ts", "value"],
    )
    out_dir = os.path.join(state_dir, "out")
    st_dir = os.path.join(state_dir, "state")
    commit = BatchCommit(
        state_dir, scoped=(out_dir, st_dir), versioned=(st_dir,),
        meta_dir=os.path.join(state_dir, "wm"),
    )
    clock = EventClock(
        spark, commit, src, "ts timestamp, value double", "ts", delay
    )

    def process(batch: DataFrame, batch_id: int) -> Publish:
        batch = batch.persist()
        # admission is against W_{k-1} - allowed, not W_{k-1}: the clock
        # only advances W (the fire/evict step below reads W_k)
        t = clock.tick(batch, batch_id, admit=False)
        # 1. CLASSIFY against W_{k-1}
        if t.prev is None:
            admitted, quarantined = batch, batch.filter(F.lit(False))
        else:
            q_line = ts_shift(t.prev, allowed)
            admitted = batch.filter(
                F.col("ts") > F.lit(q_line).cast("timestamp")
            )
            quarantined = batch.filter(
                F.col("ts") <= F.lit(q_line).cast("timestamp")
            )
        late_rows = _partials(quarantined, window).select(
            F.lit("LATE").alias("op"), "window_start", "window_end",
            "n_events", F.col("sum_value").cast("double"),
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
        # 2. MERGE admitted partials into carried state
        prior = read_version(
            spark, st_dir, batch_id - 1, _STATE_SCHEMA
        ).persist()
        part = _partials(admitted, window)
        merged = (
            prior.select("window_start", "window_end", "n_events",
                         "sum_value",
                         F.col("fired").alias("__pf"))
            .join(part.select(
                "window_start", "window_end",
                F.col("n_events").alias("__dn"),
                F.col("sum_value").alias("__dv"),
            ), ["window_start", "window_end"], "full_outer")
            .select(
                "window_start", "window_end",
                (F.coalesce("n_events", F.lit(0))
                 + F.coalesce("__dn", F.lit(0))).cast("long")
                .alias("n_events"),
                (F.coalesce(F.col("sum_value"),
                            F.lit(0).cast("decimal(25,6)"))
                 + F.coalesce(F.col("__dv"),
                              F.lit(0).cast("decimal(25,6)")))
                .cast("decimal(25,6)").alias("sum_value"),
                F.coalesce("__pf", F.lit(False)).alias("fired"),
                F.col("__dn").isNotNull().alias("__touched"),
                F.col("n_events").alias("__old_n"),
                F.col("sum_value").alias("__old_sv"),
            )
        ).persist()
        # 3. FIRE at W_k, advanced from DELIVERED maxima, monotone
        wm = t.watermark
        passed = (
            merged.filter(F.col("window_end") <= F.lit(wm)
                          .cast("timestamp"))
            if wm is not None else merged.filter(F.lit(False))
        )
        first_fires = passed.filter(~F.col("fired")).select(
            F.lit("+I").alias("op"), "window_start", "window_end",
            "n_events", F.col("sum_value").cast("double"),
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
        corr = passed.filter(F.col("fired") & F.col("__touched"))
        retracts = corr.select(
            F.lit("-U").alias("op"), "window_start", "window_end",
            F.col("__old_n").cast("long").alias("n_events"),
            F.col("__old_sv").cast("double").alias("sum_value"),
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
        updates = corr.select(
            F.lit("+U").alias("op"), "window_start", "window_end",
            "n_events", F.col("sum_value").cast("double"),
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
        out = late_rows.unionByName(first_fires).unionByName(
            retracts
        ).unionByName(updates)
        # 4. EVICT — windows past end + allowed can never be corrected
        # again (further rows of theirs quarantine by the same rule)
        new_state = merged.select(
            "window_start", "window_end", "n_events", "sum_value",
            (F.col("fired")
             | (F.col("window_end") <= F.lit(wm).cast("timestamp"))
             if wm is not None else F.col("fired")).alias("fired"),
        )
        if wm is not None:
            evict_line = ts_shift(wm, allowed)
            new_state = new_state.filter(
                ~(F.col("fired")
                  & (F.col("window_end")
                     <= F.lit(evict_line).cast("timestamp")))
            )
        return Publish([
            overwrite(out, batch_dir(out_dir, batch_id)),
            overwrite(new_state, batch_dir(st_dir, batch_id)),
        ], meta=t.meta, release=[merged, prior, batch])

    emitted = commit.drain(
        spark, src, "ts timestamp, value double", process,
        out_dir, _OUT_SCHEMA,
    )
    last = read_version(spark, st_dir, commit.last(), _STATE_SCHEMA)
    flush = last.filter(~F.col("fired")).select(
        F.lit("+I").alias("op"), "window_start", "window_end",
        "n_events", F.col("sum_value").cast("double"),
        F.lit(n_chunks).cast("long").alias("batch_id"),
    )
    return emitted.unionByName(flush).select(
        "op", "window_start", "window_end", "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        "batch_id",
    )
