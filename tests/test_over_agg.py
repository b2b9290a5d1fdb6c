"""Event-time OVER aggregation on a stream (`streaming/over_agg.py`,
built round 8, registration-bound for round 9/10): one output row per
input row with COUNT/SUM over the key's preceding event-time range,
emitted when the watermark passes the row's event time. Pre-validated
against the DuckDB replay the registration will use
(`stream_over_agg_sql` in queries.py), plus hand fixtures for the
semantics that matter: a context row from an earlier batch feeds a
later row's range, RANGE peers (equal ts) see each other, pending rows
carry across batches, too-late rows drop from output AND from other
rows' aggregates, crash replay is clean."""

from __future__ import annotations

import os
import shutil

import duckdb
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.queries import QUERIES, stream_over_agg_sql
from flink_kafka_table_api_spark.streaming import batch_commit

SF = "/root/testdata/sf0.001"


def _chunked_rows(spark, rows):
    """rows: (chunk, row_id, 'ts string', key, value)"""
    return spark.createDataFrame(
        rows, "c int, row_id long, ts string, key long, value double",
    ).select(
        "row_id", F.to_timestamp("ts").alias("ts"), "key", "value",
        F.col("c").alias("__chunk"),
    )


def _run(spark, rows, state, **kw):
    from flink_kafka_table_api_spark.streaming.over_agg import (
        stream_over_agg,
    )

    kw.setdefault("n_chunks", 3)
    kw.setdefault("delay", "2 days")
    kw.setdefault("range_seconds", 3600)
    return stream_over_agg(spark, _chunked_rows(spark, rows), state, **kw)


ROWS = [
    # key 1: three rows inside one hour -> growing window; the third
    # arrives in drop 1 but its range reaches the drop-0 rows (context)
    (0, 10, "2024-01-09 10:00:00", 1, 1.0),
    (0, 11, "2024-01-09 10:30:00", 1, 2.0),
    (1, 12, "2024-01-09 11:00:00", 1, 4.0),     # [10:00,11:00] all three
    # key 2: RANGE peers — equal ts rows see each other
    (0, 13, "2024-01-09 10:00:00", 2, 8.0),
    (0, 14, "2024-01-09 10:00:00", 2, 16.0),
    # key 3: a too-late row (two drops behind) must vanish from output
    # AND from row 17's aggregate
    (0, 15, "2024-01-09 12:00:00", 3, 32.0),
    (2, 16, "2024-01-09 12:10:00", 3, 64.0),    # late but admitted
    (2, 17, "2024-01-05 00:00:00", 3, 128.0),   # too late: dropped
    # key 4: inside the terminal watermark horizon -> emitted
    (2, 18, "2024-01-09 23:00:00", 4, 256.0),
    # drop boundaries: advance the watermark; 19 and 20 land beyond the
    # terminal watermark (2024-01-10 00:00) -> stay pending, not emitted
    (1, 19, "2024-01-11 10:00:00", 9, 0.0),
    (2, 20, "2024-01-12 00:00:00", 9, 0.0),
]


def test_over_agg_semantics_fixture(spark, tmp_path):
    out = _run(spark, ROWS, str(tmp_path / "s1"))
    got = {r.row_id: (r.n_win, r.sum_win) for r in out.collect()}
    assert got == {
        10: (1, 1.0),
        11: (2, 3.0),
        12: (3, 7.0),        # context rows 10,11 feed drop-1 row 12
        13: (2, 24.0),       # RANGE peers: 13 and 14 see each other
        14: (2, 24.0),
        15: (1, 32.0),
        16: (2, 96.0),       # row 17 dropped: absent here too
        18: (1, 256.0),
        # 17 too late (dropped); 19, 20 beyond the terminal watermark
    }


def test_crash_replay_is_clean(spark, tmp_path):
    state = str(tmp_path / "s2")
    out = _run(spark, ROWS, state)
    want = sorted(tuple(r) for r in out.collect())
    # crash between batch 2's publishes and its marker
    os.remove(os.path.join(state, "commits", "batch-2"))
    os.remove(os.path.join(state, "offsets", "batch-2.json"))
    for d in ("emitted", "context", "pending"):
        shutil.rmtree(os.path.join(state, d, "batch-2"))
    shutil.rmtree(os.path.join(state, "ckpt"))
    out2 = _run(spark, ROWS, state)
    assert sorted(tuple(r) for r in out2.collect()) == want


def test_state_tails_are_bounded(spark, tmp_path, monkeypatch):
    state = str(tmp_path / "s3")
    monkeypatch.setattr(batch_commit, "KEEP_VERSIONS", 1)
    _run(spark, ROWS, state)
    for d in ("context", "pending"):
        assert sorted(os.listdir(os.path.join(state, d))) == ["batch-2"]


def test_live_signal_on_testdata():
    """tests/test_oracle_parity.py pins the registered stream_over_agg to this
    oracle at sf0.001; the live signal is checked on the oracle's rows."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    got = con.execute(stream_over_agg_sql()).fetchall()
    # live signal: the watermark really dropped rows that other rows'
    # aggregates would otherwise have counted
    naive = con.execute(f"""
      WITH agg AS (
        SELECT event_id AS row_id,
               CAST(COUNT(*) OVER pre AS BIGINT) AS n_win
        FROM events
        WINDOW pre AS (PARTITION BY user_id ORDER BY epoch(ts)::BIGINT
                       RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
      )
      SELECT COUNT(*) FROM agg a,
           (SELECT MAX(ts) - INTERVAL 2 DAY AS w FROM events) wm,
           events e
      WHERE e.event_id = a.row_id AND e.ts <= wm.w
    """).fetchone()[0]
    assert len(got) < naive, "no row crossed the admission watermark"


# ---------------------------------------------------------------------------
# ROWS-frame variant
# ---------------------------------------------------------------------------


def _run_rows(spark, rows, state, **kw):
    from flink_kafka_table_api_spark.streaming.over_agg import (
        stream_over_rows_agg,
    )

    kw.setdefault("n_chunks", 3)
    kw.setdefault("delay", "2 days")
    kw.setdefault("n_preceding", 2)
    return stream_over_rows_agg(spark, _chunked_rows(spark, rows), state, **kw)


def test_over_rows_semantics_fixture(spark, tmp_path):
    """ROWS frames: exactly the previous n rows by (ts, row_id) order —
    peers do NOT see each other (unlike RANGE), the context tail hands
    the last n rows across batches, ties break on row_id."""
    out = _run_rows(spark, ROWS, str(tmp_path / "r1"))
    got = {r.row_id: (r.n_win, r.sum_win) for r in out.collect()}
    assert got == {
        10: (1, 1.0),
        11: (2, 3.0),
        12: (3, 7.0),        # last-2-rows context feeds the drop-1 row
        13: (1, 8.0),        # equal-ts peer: row_id order, 13 first
        14: (2, 24.0),       # sees its peer 13 (frame is count-based)
        15: (1, 32.0),
        16: (2, 96.0),       # row 17 dropped: absent here too
        18: (1, 256.0),
        # 17 too late (dropped); 19, 20 beyond the terminal watermark
    }


def test_over_rows_context_is_count_bounded(spark, tmp_path, monkeypatch):
    state = str(tmp_path / "r2")
    monkeypatch.setattr(batch_commit, "KEEP_VERSIONS", 1)
    _run_rows(spark, ROWS, state, n_preceding=1)
    ctx = spark.read.parquet(os.path.join(state, "context", "batch-2"))
    # at most n_preceding rows per key survive in the context tail
    per_key = ctx.groupBy("key").count().collect()
    assert per_key and all(r["count"] <= 1 for r in per_key)


def test_over_rows_oracle_parity_on_testdata(spark):
    from flink_kafka_table_api_spark.queries import stream_over_rows_sql

    out = QUERIES["stream_over_rows"](spark, SF)
    got = sorted(tuple(str(x) for x in r) for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    exp = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(stream_over_rows_sql()).fetchall()
    )
    assert len(got) == len(exp) > 0
    assert got == exp


def test_banded_equals_naive_window(spark):
    """The banded (key, bin) decomposition must be bit-equal to the
    monolithic per-key RANGE window it replaces — including exact
    frame-boundary hits (ts' == ts - range), peers, bin-edge rows and
    keys whose history spans many empty bins."""
    from flink_kafka_table_api_spark.functions.portable import DEC
    from flink_kafka_table_api_spark.streaming.over_agg import (
        over_range_agg,
    )
    from pyspark.sql import Window

    rows = []
    rid = 0
    for key in (1, 2, 3):
        for m in (0, 59, 60, 61, 100, 119, 120, 120, 121, 240, 600):
            rid += 1
            rows.append(
                (rid, f"2024-01-01 {m // 60:02d}:{m % 60:02d}:00",
                 key, float(rid))
            )
    df = spark.createDataFrame(
        rows, "row_id long, ts string, key long, value double"
    ).select("row_id", F.to_timestamp("ts").alias("ts"), "key", "value")
    got = sorted(
        tuple(str(x) for x in r)
        for r in over_range_agg(df, 3600).collect()
    )
    w = (
        Window.partitionBy("key")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    naive = df.select(
        "row_id", "ts", "key", "value",
        F.count("*").over(w).cast("long").alias("n_win"),
        F.sum(F.col("value").cast(DEC)).over(w).cast("double")
        .alias("sum_win"),
    )
    exp = sorted(tuple(str(x) for x in r) for r in naive.collect())
    assert got == exp
