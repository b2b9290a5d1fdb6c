"""Watermark alignment (`streaming/watermark_alignment.py`, built
round 9, staged for a round-10 gate slot — Flink FLIP-182): a source
running AHEAD of the group is throttled to min(group maxima) + drift;
its rows DEFER (never drop) and re-judge each batch. Pinned here: the
deferral semantics batch by batch (including the boundary equality and
re-deferral), the deferred-window emission block, fresh-arrival
lateness finality, crash replay, the throttle trace, and full-value
oracle parity at BOTH gate SFs (the round-9 committed-evidence
convention)."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.catalog import read_table
from flink_kafka_table_api_spark.queries import (
    QUERIES,
    stream_watermark_alignment_sql,
)
from flink_kafka_table_api_spark.streaming.watermark_alignment import (
    load_deferred_counts,
    stream_watermark_alignment,
)


def _rows(spark, rows):
    """rows: (chunk, source, 'ts string', value)"""
    return spark.createDataFrame(
        rows, "c int, source string, ts string, value double",
    ).select(
        "source", F.to_timestamp("ts").alias("ts"), "value",
        F.col("c").alias("__chunk"),
    )


def _got(out):
    return sorted(
        (r.source, str(r.window_start), r.n_events, r.batch_id)
        for r in out.collect()
    )


# A is the straggler pace-setter; B ran ahead (its far-future rows
# arrive in drops 0 and 1). delay = 1 day, drift = 1 day, 1-day windows.
FIXTURE = [
    (0, "A", "2024-01-01 10:00:00", 1.0),
    (0, "B", "2024-01-01 11:00:00", 2.0),
    (0, "B", "2024-01-09 10:00:00", 3.0),   # ahead; batch 0 unthrottled
    (1, "A", "2024-01-02 10:00:00", 4.0),   # == A_1 boundary: admits
    (1, "B", "2024-01-10 10:00:00", 5.0),   # > A_1: defers
    (2, "A", "2024-01-03 10:00:00", 6.0),   # == A_2 boundary: admits
]
# Derived ceilings: M_0 = {A: 01-01 10:00, B: 01-09 10:00} ->
# A_1 = 01-02 10:00, W_1 = 01-01 10:00; after batch 1 (A's row admits,
# B's defers) A_2 = 01-03 10:00, W_2 = 01-02 10:00. B's 01-10 row
# re-defers at batch 2 and flushes.
EXPECT = [
    ("A", "2024-01-01 00:00:00", 1, 2),   # W_2 passes its end
    ("A", "2024-01-02 00:00:00", 1, 3),
    ("A", "2024-01-03 00:00:00", 1, 3),
    ("B", "2024-01-01 00:00:00", 1, 2),
    ("B", "2024-01-09 00:00:00", 1, 3),
    ("B", "2024-01-10 00:00:00", 1, 3),   # the deferred row, flushed
]


def test_deferral_semantics_batch_by_batch(spark, tmp_path):
    state = str(tmp_path / "s1")
    out = stream_watermark_alignment(
        spark, _rows(spark, FIXTURE), state,
        n_chunks=3, delay="1 day", drift="1 day",
    )
    assert _got(out) == EXPECT
    # the throttle trace: one deferral at batch 1 (B's 01-10 row), the
    # same row re-deferred at batch 2
    assert load_deferred_counts(spark, state) == [0, 1, 1]


def test_nothing_is_dropped_by_alignment(spark, tmp_path):
    out = stream_watermark_alignment(
        spark, _rows(spark, FIXTURE), str(tmp_path / "s2"),
        n_chunks=3, delay="1 day", drift="1 day",
    )
    assert sum(n for (_, _, n, _) in _got(out)) == len(FIXTURE)


def test_fresh_late_arrival_drops_and_windows_stay_final(spark, tmp_path):
    rows = FIXTURE + [
        # arrives in drop 2 behind W_1 = 01-01 10:00 -> lateness
        # contract drops it; the 01-01 A-window emitted at batch 2
        # keeps count 1 and no duplicate emission appears
        (2, "A", "2024-01-01 09:00:00", 9.0),
    ]
    out = stream_watermark_alignment(
        spark, _rows(spark, rows), str(tmp_path / "s3"),
        n_chunks=3, delay="1 day", drift="1 day",
    )
    assert _got(out) == EXPECT


def test_crash_replay_is_clean(spark, tmp_path):
    state = str(tmp_path / "s4")
    out = stream_watermark_alignment(
        spark, _rows(spark, FIXTURE), state,
        n_chunks=3, delay="1 day", drift="1 day",
    )
    want = _got(out)
    os.remove(os.path.join(state, "commits", "batch-2"))
    os.remove(os.path.join(state, "wm", "batch-2.json"))
    for d in ("out", "pending", "deferred"):
        shutil.rmtree(os.path.join(state, d, "batch-2"),
                      ignore_errors=True)
    shutil.rmtree(os.path.join(state, "ckpt"))
    out2 = stream_watermark_alignment(
        spark, _rows(spark, FIXTURE), state,
        n_chunks=3, delay="1 day", drift="1 day",
    )
    assert _got(out2) == want


def test_replay_of_committed_batches_is_a_noop(spark, tmp_path):
    state = str(tmp_path / "s5")
    out = stream_watermark_alignment(
        spark, _rows(spark, FIXTURE), state,
        n_chunks=3, delay="1 day", drift="1 day",
    )
    want = _got(out)
    shutil.rmtree(os.path.join(state, "ckpt"))
    out2 = stream_watermark_alignment(
        spark, _rows(spark, FIXTURE), state,
        n_chunks=3, delay="1 day", drift="1 day",
    )
    assert _got(out2) == want


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001",
                                "/root/testdata/sf0.01"])
def test_oracle_parity_on_testdata(spark, sf):
    out = QUERIES["stream_watermark_alignment"](spark, sf)
    got = sorted(tuple(str(x) for x in r) for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    exp = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(stream_watermark_alignment_sql()).fetchall()
    )
    assert len(got) == len(exp) > 0
    assert got == exp


def test_throttle_is_live_on_testdata(spark, tmp_path):
    """The gate form really throttles: the firehose source's far-future
    rows defer at batches 1-2 (a dead fixture would make the whole
    operator a plain windowed aggregate)."""
    sf = "/root/testdata/sf0.001"
    ev = read_table(spark, sf, "events")
    d0 = ev.agg(F.min(F.to_date("ts"))).first()[0]
    d_idx = F.datediff(F.to_date("ts"), F.lit(d0))
    natural = F.least(F.floor(d_idx / F.lit(10)).cast("long"), F.lit(2))
    chunk = F.when(
        F.col("event_type") == "click",
        F.greatest(natural - 1, F.lit(0)),
    ).otherwise(natural)
    rows = ev.select(
        F.col("event_type").alias("source"),
        F.col("ts").cast("timestamp").alias("ts"),
        "value", chunk.cast("int").alias("__chunk"),
    )
    state = str(tmp_path / "s6")
    stream_watermark_alignment(
        spark, rows, state, n_chunks=3, delay="2 days", drift="3 days",
    ).collect()
    trace = load_deferred_counts(spark, state)
    assert len(trace) == 3 and max(trace[1:]) > 0, trace
