"""Watermarked late-data handling (`stream_late_events`, round 8):
out-of-order micro-batch delivery through the real streaming engine,
with the watermark's admit/drop/emit behavior pinned on a hand-built
fixture and the gate query checked bit-for-bit against its DuckDB
oracle. The pinned model lives in streaming/late_data.py's docstring."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.queries import (
    ORACLES,
    QUERIES,
    _admitted_sql,
    _late_drop_sql,
    _late_shift_sql,
)
from flink_kafka_table_api_spark.streaming.late_data import stage_chunked_by

SF = "/root/testdata/sf0.001"


def _run_windowed(spark, src, delay, window):
    stream = (
        spark.readStream
        .schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory").queryName("late_sem_pin")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return q, {r.ws.hour: r.n for r in spark.table("late_sem_pin").collect()}


def test_watermark_semantics_pin(spark, tmp_path):
    """The empirical Spark model the stream_late_events oracle replays —
    if a Spark upgrade changes any of this, THIS test fails before the
    driver gate does:

      batch 0: hours 0..9;  batch 1: late 03:30 + new 12:30;
      batch 2: late 05:30 (evicted) + late 09:30 (open) + new 13:30.

      W_k = max(ts through batch k-1) - 2h, so W_1 = 07:30, W_2 = 10:30.
      - batch 1's late 03:30 row is ADMITTED (drop horizon is W_0 =
        -inf: watermark lags one batch — one-drop-late is always safe);
      - batch 2's late 05:30 row is DROPPED (window end 06:00 <= W_1,
        already emitted+evicted) while its 09:30 row MERGES (end 10:00 >
        W_1, still open);
      - windows ending past max(ALL ts) - delay = 11:30 (hours 12, 13)
        are never emitted."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = {
        0: [(i, f"2024-01-01 {h:02d}:30:00", 1.0)
            for i, h in enumerate(range(10))],
        1: [(100, "2024-01-01 03:30:00", 1.0),
            (104, "2024-01-01 12:30:00", 1.0)],
        2: [(200, "2024-01-01 05:30:00", 1.0),
            (201, "2024-01-01 09:30:00", 1.0),
            (202, "2024-01-01 13:30:00", 1.0)],
    }
    df = spark.createDataFrame(
        [(c, *r) for c, rs in rows.items() for r in rs],
        "c int, event_id long, ts string, value double",
    ).select("c", "event_id", F.to_timestamp("ts").alias("ts"), "value")
    stage_chunked_by(
        df, src, chunk_col="c", n_chunks=3,
        columns=["event_id", "ts", "value"],
    )
    q, got = _run_windowed(spark, src, "2 hours", "1 hour")
    # one-drop-late admitted; two-drops-late dropped; open-window merged
    assert got[3] == 2    # batch-1 late row merged
    assert got[5] == 1    # batch-2 late row dropped (window evicted)
    assert got[9] == 2    # batch-2 late row merged (window still open)
    # final emission horizon: hours 12/13 retained, never emitted
    assert 12 not in got and 13 not in got
    assert set(got) == set(range(10))
    # the watermark trajectory itself: lags one batch, advances on ALL
    # rows (the dropped 05:30 row's batch still moved it forward)
    wms = [p["eventTime"].get("watermark") for p in q.recentProgress]
    assert wms[1] == "2024-01-01T07:30:00.000Z"
    assert wms[2] == "2024-01-01T10:30:00.000Z"


# The delivery schedule and Spark's window-eviction admission, as the
# stream_late_events oracle replays them: `chun` is every delivered row
# with its late shift, `adm` the rows whose window was still open.
_REPLAY = f"""
    chun AS (
      SELECT event_id, ts, {_late_shift_sql()} AS shift,
             {_late_drop_sql()} AS chunk
      FROM events
    ),
    {_admitted_sql("adm", "chun", "INTERVAL 2 DAY",
                   admit_by="date_trunc('day', r.ts) + INTERVAL 1 DAY",
                   lag=2)}"""


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    return c


def test_stream_late_events_oracle_parity(spark, con):
    df = QUERIES["stream_late_events"](spark, SF)
    got = sorted(tuple(str(x) for x in r) for r in df.collect())
    exp = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(ORACLES["stream_late_events"]).fetchall()
    )
    assert len(got) == len(exp) > 0
    assert got == exp


def test_late_slices_have_live_signal(con):
    """The staged lateness must actually exercise both paths on the
    shipped corpus: some two-drops-late rows cross the eviction horizon
    (dropped), every one-drop-late row lands inside it (admitted), and
    the emitted aggregate reflects exactly the drops.
    tests/test_oracle_parity.py pins the registered stream_late_events
    to its oracle at sf0.001, so the emitted aggregate is read from the
    oracle's rows."""
    dropped, one_late_total, one_late_dropped = con.execute(f"""
      WITH {_REPLAY}
      SELECT (SELECT COUNT(*) FROM chun) - (SELECT COUNT(*) FROM adm),
             (SELECT COUNT(*) FROM chun WHERE shift = 1),
             (SELECT COUNT(*) FROM chun WHERE shift = 1)
               - (SELECT COUNT(*) FROM adm WHERE shift = 1)
    """).fetchone()
    assert dropped > 0, "no two-drops-late row crossed the horizon"
    assert one_late_total > 0 and one_late_dropped == 0, (
        "one-drop-late rows must always be admitted (watermark lags one "
        "batch)"
    )
    # the emitted aggregate is smaller than a drop-nothing replay by
    # exactly the dropped rows inside the emission horizon
    emitted = con.execute(f"""
      SELECT SUM(n_events) FROM ({ORACLES["stream_late_events"]})
    """).fetchone()[0]
    naive, dropped_in_horizon = con.execute(f"""
      WITH {_REPLAY},
      wm AS (SELECT MAX(ts) - INTERVAL 2 DAY AS w FROM events),
      closed AS (
        SELECT c.event_id, c.event_id IN (SELECT event_id FROM adm) AS kept
        FROM chun c, wm
        WHERE date_trunc('day', c.ts) + INTERVAL 1 DAY <= wm.w
      )
      SELECT COUNT(*), COUNT(*) FILTER (WHERE NOT kept) FROM closed
    """).fetchone()
    assert emitted == naive - dropped_in_horizon


def test_stage_chunked_by_is_idempotent_and_ordered(spark, tmp_path):
    src = str(tmp_path / "src2")
    df = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 2.0), (2, 3, 3.0)], "c int, event_id long, v double"
    )
    stage_chunked_by(df, src, chunk_col="c", n_chunks=3,
                     columns=["event_id", "v"])
    files = sorted(os.listdir(src))
    assert files == ["chunk0000.parquet", "chunk0001.parquet",
                     "chunk0002.parquet"]
    mtimes = [os.path.getmtime(os.path.join(src, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    # second call is a no-op (existing chunks kept — replay-stable)
    stage_chunked_by(df, src, chunk_col="c", n_chunks=3,
                     columns=["event_id", "v"])
    assert [os.path.getmtime(os.path.join(src, f)) for f in files] == mtimes
