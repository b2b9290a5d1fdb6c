"""Allowed lateness + late-data side output
(`streaming/allowed_lateness.py`, built round 9, staged for a round-10
gate slot — Flink's allowedLateness/sideOutputLateData): windows
re-fire with '-U'/'+U' corrections for late-but-allowed rows, rows
beyond the allowance surface in the 'LATE' side output, and state for
windows past end + allowed is evicted (emergently — further rows of
theirs quarantine by the same classification rule). Pinned here with
hand-built fixtures, the changelog-fold materialization, crash replay,
and full-value oracle parity at BOTH gate SFs with every op class
live."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.queries import (
    QUERIES,
    stream_allowed_lateness_sql,
)
from flink_kafka_table_api_spark.streaming.allowed_lateness import (
    stream_allowed_lateness,
)


def _rows(spark, rows):
    """rows: (chunk, 'ts string', value)"""
    return spark.createDataFrame(
        rows, "c int, ts string, value double",
    ).select(
        F.to_timestamp("ts").alias("ts"), "value",
        F.col("c").alias("__chunk"),
    )


def _got(out):
    return sorted(
        (r.batch_id, r.op, str(r.window_start), r.n_events, r.sum_value)
        for r in out.collect()
    )


# delay = 1 day, allowed = 1 day, 1-day windows. Watermarks:
# W_0 = 01-03 10:00 - 1d = 01-02 10:00; W_1 = 01-06 10:00 - 1d =
# 01-05 10:00; W_2 = 01-08 10:00 - 1d = 01-07 10:00.
FIXTURE = [
    (0, "2024-01-01 10:00:00", 1.0),
    (0, "2024-01-03 10:00:00", 2.0),
    # batch 1: the 01-01 window fired at batch 0 (end 01-02 <= W_0).
    (1, "2024-01-06 10:00:00", 3.0),
    # late-but-allowed: 01-02 10:00 > W_0 - 1d = 01-01 10:00 -> admits
    # into the FIRED 01-02 window? No: 01-02's end (01-03) > W_0, so it
    # had NOT fired -- it joins silently and first-fires at batch 1.
    (1, "2024-01-02 09:00:00", 4.0),
    # late-but-allowed into the FIRED 01-01 window (end 01-02 <= W_0):
    # 01-01 12:00 > W_0 - 1d -> correction pair at batch 1
    (1, "2024-01-01 12:00:00", 5.0),
    # batch 2: beyond the allowance: 01-01 09:00 <= W_1 - 1d =
    # 01-04 10:00 -> quarantined ('LATE', batch 2) -- this is ALSO the
    # eviction case: the 01-01 window left state at batch 1
    # (end 01-02 <= W_1 - 1d)
    (2, "2024-01-01 09:00:00", 6.0),
]
EXPECT = sorted([
    (0, "+I", "2024-01-01 00:00:00", 1, 1.0),
    (1, "+I", "2024-01-02 00:00:00", 1, 4.0),
    (1, "+I", "2024-01-03 00:00:00", 1, 2.0),
    (1, "-U", "2024-01-01 00:00:00", 1, 1.0),
    (1, "+U", "2024-01-01 00:00:00", 2, 6.0),
    (2, "LATE", "2024-01-01 00:00:00", 1, 6.0),
    (3, "+I", "2024-01-06 00:00:00", 1, 3.0),
])


def test_correction_quarantine_and_eviction_semantics(spark, tmp_path):
    state = str(tmp_path / "s1")
    out = stream_allowed_lateness(
        spark, _rows(spark, FIXTURE), state,
        n_chunks=3, delay="1 day", allowed="1 day",
    )
    assert _got(out) == EXPECT
    # eviction really happened: the fired-and-past 01-01 window left
    # the state store after batch 1 (end + allowed <= W_1)
    st = spark.read.schema(
        "window_start timestamp, window_end timestamp, n_events long, "
        "sum_value decimal(25,6), fired boolean"
    ).parquet(os.path.join(state, "state", "batch-1"))
    starts = {str(r.window_start) for r in st.collect()}
    assert "2024-01-01 00:00:00" not in starts


def test_folding_the_changelog_yields_the_corrected_aggregates(
    spark, tmp_path
):
    out = stream_allowed_lateness(
        spark, _rows(spark, FIXTURE), str(tmp_path / "s2"),
        n_chunks=3, delay="1 day", allowed="1 day",
    )
    # apply in (batch, RowKind) order: retraction precedes the update
    rank = {"LATE": 0, "-U": 1, "+I": 2, "+U": 2}
    log = sorted(_got(out), key=lambda r: (r[0], rank[r[1]]))
    final = {}
    for b, op, ws, n, sv in log:
        if op in ("+I", "+U"):
            final[ws] = (n, sv)
        elif op == "-U":
            assert final[ws] == (n, sv), "retraction must match current"
    assert final == {
        "2024-01-01 00:00:00": (2, 6.0),
        "2024-01-02 00:00:00": (1, 4.0),
        "2024-01-03 00:00:00": (1, 2.0),
        "2024-01-06 00:00:00": (1, 3.0),
    }


def test_zero_allowance_degenerates_to_plain_watermark_drop(
    spark, tmp_path
):
    out = stream_allowed_lateness(
        spark, _rows(spark, FIXTURE), str(tmp_path / "s3"),
        n_chunks=3, delay="1 day", allowed="0 seconds",
    )
    got = _got(out)
    # the would-be correction row now quarantines; no -U/+U anywhere
    assert not any(op in ("-U", "+U") for (_, op, _, _, _) in got)
    assert (1, "LATE", "2024-01-01 00:00:00", 1, 5.0) in got


def test_crash_replay_is_clean(spark, tmp_path):
    state = str(tmp_path / "s4")
    out = stream_allowed_lateness(
        spark, _rows(spark, FIXTURE), state,
        n_chunks=3, delay="1 day", allowed="1 day",
    )
    want = _got(out)
    os.remove(os.path.join(state, "commits", "batch-2"))
    os.remove(os.path.join(state, "wm", "batch-2.json"))
    for d in ("out", "state"):
        shutil.rmtree(os.path.join(state, d, "batch-2"),
                      ignore_errors=True)
    shutil.rmtree(os.path.join(state, "ckpt"))
    out2 = stream_allowed_lateness(
        spark, _rows(spark, FIXTURE), state,
        n_chunks=3, delay="1 day", allowed="1 day",
    )
    assert _got(out2) == want


def test_replay_of_committed_batches_is_a_noop(spark, tmp_path):
    state = str(tmp_path / "s5")
    out = stream_allowed_lateness(
        spark, _rows(spark, FIXTURE), state,
        n_chunks=3, delay="1 day", allowed="1 day",
    )
    want = _got(out)
    shutil.rmtree(os.path.join(state, "ckpt"))
    out2 = stream_allowed_lateness(
        spark, _rows(spark, FIXTURE), state,
        n_chunks=3, delay="1 day", allowed="1 day",
    )
    assert _got(out2) == want


def test_live_signal_on_testdata():
    """tests/test_oracle_parity.py pins the registered stream_allowed_lateness
    to this oracle at sf0.001; that every op class is live is checked on
    the oracle's rows."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "'/root/testdata/sf0.001/events.parquet'"
    )
    ops = {
        r[0] for r in con.execute(stream_allowed_lateness_sql()).fetchall()
    }
    # a dead correction or quarantine path would make the capability
    # claim hollow
    assert {"+I", "-U", "+U", "LATE"} <= ops, ops


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01"])
def test_oracle_parity_on_testdata(spark, sf):
    out = QUERIES["stream_allowed_lateness"](spark, sf)
    got = sorted(tuple(str(x) for x in r) for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    exp = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(stream_allowed_lateness_sql()).fetchall()
    )
    assert len(got) == len(exp) > 0
    assert got == exp
    # every op class is live on the gate corpus (a dead correction or
    # quarantine path would make the capability claim hollow)
    ops = {r[0] for r in got}
    assert {"+I", "-U", "+U", "LATE"} <= ops, ops
