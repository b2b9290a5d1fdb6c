"""Per-partition watermark alignment with idle-source handling
(`streaming/idle_watermark.py`, built round 9 — VERDICT r8 item 7,
Flink's withIdleness): per-source watermarks min-combined over the
batch's ACTIVE sources, so a silent source does not stall window
finalization for the live ones. Pinned here: the idle-vs-control
behavioral difference (THE semantics the operator exists for), late-row
admission under the combined watermark, wake-up rejoin with watermark
monotonicity, crash replay, and full-value DuckDB oracle parity on the
real testdata at the gate shape."""

from __future__ import annotations

import json
import os
import shutil

import duckdb
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.queries import (
    _idle_watermark_rows,
    stream_idle_watermark_sql,
)
from flink_kafka_table_api_spark.streaming.idle_watermark import (
    stream_idle_watermark,
)

SF = "/root/testdata/sf0.001"


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


# Fixture: source A sends in every drop; source B falls silent after
# drop 0. delay = 1 day, 1-day windows.
FIXTURE = [
    (0, "A", "2024-01-01 10:00:00", 1.0),
    (0, "B", "2024-01-01 11:00:00", 2.0),
    (1, "A", "2024-01-05 10:00:00", 3.0),   # advances A far ahead
    (2, "A", "2024-01-09 10:00:00", 4.0),
]


def test_idle_source_does_not_stall_the_watermark(spark, tmp_path):
    out = stream_idle_watermark(
        spark, _rows(spark, FIXTURE), str(tmp_path / "s1"),
        n_chunks=3, delay="1 day",
    )
    got = _got(out)
    # batch 1: B is idle -> W = A's 01-05 10:00 - 1d = 01-04 10:00,
    # so BOTH 01-01 windows (A's and B's) finalize at batch 1, and A's
    # 01-05 window finalizes at batch 2 (W = 01-08 10:00). Only the
    # 01-09 window waits for the flush (3).
    assert got == [
        ("A", "2024-01-01 00:00:00", 1, 1),
        ("A", "2024-01-05 00:00:00", 1, 2),
        ("A", "2024-01-09 00:00:00", 1, 3),
        ("B", "2024-01-01 00:00:00", 1, 1),
    ]


def test_min_combine_control_stalls_on_the_idle_source(spark, tmp_path):
    """The behavior withIdleness exists to fix: with the plain
    min-combine the silent B pins W at 2024-01-01 11:00 - 1d forever,
    so EVERY window waits for the terminal flush."""
    out = stream_idle_watermark(
        spark, _rows(spark, FIXTURE), str(tmp_path / "s2"),
        n_chunks=3, delay="1 day", idleness=False,
    )
    assert [b for (_, _, _, b) in _got(out)] == [3, 3, 3, 3]


def test_late_row_is_dropped_under_the_combined_watermark(spark, tmp_path):
    rows = FIXTURE + [
        # arrives in drop 2; W after drop 1 = 2024-01-04 10:00 (A's
        # advance with B idle) -> too late, dropped: the 01-01 A-window
        # emitted at batch 1 stays count=1 and no duplicate emission
        (2, "A", "2024-01-01 09:00:00", 9.0),
        # arrives in drop 2 with ts above W_1 -> admitted into a fresh
        # window that finalizes in the SAME batch (W_2 = 01-08 10:00
        # already passed its end)
        (2, "A", "2024-01-04 12:00:00", 5.0),
    ]
    out = stream_idle_watermark(
        spark, _rows(spark, rows), str(tmp_path / "s3"),
        n_chunks=3, delay="1 day",
    )
    got = _got(out)
    assert ("A", "2024-01-01 00:00:00", 1, 1) in got   # not re-opened
    assert ("A", "2024-01-04 00:00:00", 1, 2) in got   # admitted late row


def test_wakeup_rejoins_and_watermark_never_regresses(spark, tmp_path):
    rows = FIXTURE + [
        # B wakes in drop 2 with an OLD timestamp: it rejoins the
        # combine (active again), and the monotone max keeps W at
        # batch 1's level instead of regressing to B's 01-02 - 1d
        (2, "B", "2024-01-02 10:00:00", 6.0),
    ]
    state = str(tmp_path / "s4")
    out = stream_idle_watermark(
        spark, _rows(spark, rows), state, n_chunks=3, delay="1 day",
    )
    got = _got(out)
    # B's late row: W_1 = 2024-01-04 10:00 >= 01-02 10:00 -> dropped on
    # admission (its window already finalized at batch 1); B still
    # REJOINS the combine, pinning W_2 at max(W_1, min(A,B) - 1d) = W_1
    assert ("B", "2024-01-02 00:00:00", 1, 3) not in got
    metas = [
        json.load(open(os.path.join(state, "wm", f"batch-{k}.json")))
        for k in range(3)
    ]
    wms = [m["watermark"] for m in metas]
    assert wms == sorted(wms), f"watermark regressed: {wms}"
    # batch 2's combine saw B again (min would be B's 01-02 10:00 - 1d
    # = 01-01 10:00 < W_1): monotone max held the line
    assert wms[2] == wms[1]
    # A's 01-09 window therefore waits for the flush
    assert ("A", "2024-01-09 00:00:00", 1, 3) in got


def test_crash_replay_is_clean(spark, tmp_path):
    state = str(tmp_path / "s5")
    out = stream_idle_watermark(
        spark, _rows(spark, FIXTURE), state, n_chunks=3, delay="1 day",
    )
    want = _got(out)
    # crash between batch 2's publishes and its marker
    os.remove(os.path.join(state, "commits", "batch-2"))
    os.remove(os.path.join(state, "wm", "batch-2.json"))
    shutil.rmtree(os.path.join(state, "out", "batch-2"))
    shutil.rmtree(os.path.join(state, "pending", "batch-2"))
    shutil.rmtree(os.path.join(state, "ckpt"))
    out2 = stream_idle_watermark(
        spark, _rows(spark, FIXTURE), state, n_chunks=3, delay="1 day",
    )
    assert _got(out2) == want


def test_replay_of_committed_batches_is_a_noop(spark, tmp_path):
    state = str(tmp_path / "s6")
    out = stream_idle_watermark(
        spark, _rows(spark, FIXTURE), state, n_chunks=3, delay="1 day",
    )
    want = _got(out)
    shutil.rmtree(os.path.join(state, "ckpt"))
    out2 = stream_idle_watermark(
        spark, _rows(spark, FIXTURE), state, n_chunks=3, delay="1 day",
    )
    assert _got(out2) == want


def test_oracle_parity_on_testdata(spark, tmp_path):
    out = stream_idle_watermark(
        spark, _idle_watermark_rows(spark, SF), str(tmp_path / "s7"),
        n_chunks=3, delay="2 days",
    )
    got = sorted(tuple(str(x) for x in r) for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    exp = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(stream_idle_watermark_sql()).fetchall()
    )
    assert len(got) == len(exp) > 0
    assert got == exp
    # live signal: the idle source really changed emission batches —
    # some window finalizes before the flush that the control run
    # cannot finalize early (the min-combine pin)
    ctl = stream_idle_watermark(
        spark, _idle_watermark_rows(spark, SF), str(tmp_path / "s8"),
        n_chunks=3, delay="2 days", idleness=False,
    )
    flush_ids = {r.batch_id for r in ctl.collect()
                 if str(r.source) != "signup"
                 and str(r.window_start) > "2024-01-01"}
    early = {int(r[-1]) for r in got}
    assert any(b < 3 for b in early), "no early emission — dead fixture"
    n_flush_ctl = sum(1 for r in ctl.collect() if r.batch_id == 3)
    n_flush_idle = sum(1 for r in got if int(r[-1]) == 3)
    assert n_flush_idle < n_flush_ctl, (
        "idleness handling did not reduce flush-stalled windows"
    )
