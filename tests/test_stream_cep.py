"""Streaming MATCH_RECOGNIZE (`streaming/stream_cep.py`, built round 8,
registration-bound for a round-9/10 gate slot): incremental CEP with
watermark-gated emission. Pre-validated against a DuckDB replay
(admission + the window-function funnel detection — final match set
EQUALS the batch scan over admitted rows), plus hand fixtures for the
frozen-prefix semantics: a fixed-tail match emits in the first batch
whose watermark passes its end, an open-tail match at the boundary
stays pending and ABSORBS a late row that splices in, too-late rows
drop, per-key emission timing under the shared watermark, end-of-input
flush, and crash replay."""

from __future__ import annotations

import os
import shutil

import duckdb
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.catalog import read_table
from flink_kafka_table_api_spark.queries import (
    QUERIES,
    stream_match_recognize_sql as oracle_sql,
)
from flink_kafka_table_api_spark.streaming.stream_cep import (
    stream_match_recognize,
)

SF = "/root/testdata/sf0.001"
D = "2024-01-09 "


def _rows(spark, rows):
    """rows: (chunk, id, 'HH:MM', key, kind)"""
    return spark.createDataFrame(
        [(c, i, D + t + ":00", k, kd) for c, i, t, k, kd in rows],
        "c int, id long, ts string, key long, kind string",
    ).select(
        "id", F.to_timestamp("ts").alias("ts"), "key", "kind",
        F.col("c").alias("__chunk"),
    )


def _run(spark, df, path, pattern="A B+ C"):
    return stream_match_recognize(
        spark, df, path, n_chunks=3, delay="1 hour",
        key_col="key", ts_col="ts", id_col="id",
        define=[
            ("A", F.col("kind") == "a"),
            ("B", F.col("kind") == "b"),
            ("C", F.col("kind") == "c"),
        ],
        pattern=pattern,
        measures={
            "start_ts": F.min("ts"),
            "end_ts": F.max("ts"),
            "n_b": F.sum((F.col("__symbol") == "B").cast("long")),
        },
    )


def _got(out):
    return sorted(
        (r.key, r.start_ts.strftime("%H:%M"), r.end_ts.strftime("%H:%M"),
         r.n_b, r.batch_id)
        for r in out.collect()
    )


FIXTURE = [
    # key 1, drop 0: a b c -> frozen only through 10:00 at W_0, the
    # match completes but its end is not yet frozen
    (0, 1, "09:00", 1, "a"),
    (0, 2, "10:00", 1, "b"),
    (0, 3, "11:00", 1, "c"),
    # key 2, drop 0: partial a b (its c arrives next drop)
    (0, 4, "10:30", 2, "a"),
    (0, 5, "10:45", 2, "b"),
    # drop 1: W_1 = 12:00-1h = 11:00 -> key 1's abc freezes (fixed tail
    # C => final at the boundary) and emits HERE; the 08:00 row is too
    # late (<= W_0 = 10:00) and must NOT splice in front
    (1, 6, "12:00", 1, "b"),
    (1, 7, "08:00", 1, "a"),   # too late: dropped
    (1, 8, "11:30", 2, "c"),
    # drop 2: W_2 = 15:00-1h = 14:00 -> key 2's match end (11:30)
    # freezes and emits; key 1 starts a second funnel that only the
    # end-of-input flush can release
    (2, 9, "13:00", 1, "a"),
    (2, 10, "14:00", 1, "b"),
    (2, 11, "15:00", 1, "c"),
]
EXPECTED = sorted([
    (1, "09:00", "11:00", 1, 1),   # emitted when W_1 passed its end
    (2, "10:30", "11:30", 1, 2),   # emitted when W_2 passed its end
    (1, "13:00", "15:00", 1, 3),   # end-of-input flush
])


def test_watermark_gated_emission(spark, tmp_path):
    out = _run(spark, _rows(spark, FIXTURE), str(tmp_path / "c1"))
    assert _got(out) == EXPECTED


def test_open_tail_absorbs_late_rows(spark, tmp_path):
    """PATTERN (A B+) has an open tail: the match 'a b b' reaches the
    frozen boundary at every pre-flush batch (a b with ts <= W could
    still arrive and extend it), so it must stay pending — and when a
    late b DOES arrive inside the horizon, it is absorbed: ONE match
    with n_b=3, not a premature n_b=2."""
    rows = [
        (0, 1, "09:00", 1, "a"),
        (0, 2, "10:00", 1, "b"),
        (0, 3, "11:00", 1, "b"),
        # drop 1: a non-symbol row advances max_seen to 13:00
        # (W_1 = 12:00); the greedy run now ends at a frozen '.' but
        # the tail B+ is open, so it still must not emit before the
        # 12:30 splice below arrives
        (1, 4, "13:00", 1, "x"),
        # drop 2: the late (admitted: 12:30 > W_1? no — 12:30 > 12:00)
        # b splices BEFORE the x row and extends the pending match
        (2, 5, "12:30", 1, "b"),
    ]
    out = _run(spark, _rows(spark, rows), str(tmp_path / "c2"),
               pattern="A B+")
    got = sorted(
        (r.key, r.n_b, r.batch_id) for r in out.collect()
    )
    assert got == [(1, 3, 3)]


def test_crash_replay_is_clean(spark, tmp_path):
    state = str(tmp_path / "c3")
    want = _got(_run(spark, _rows(spark, FIXTURE), state))
    os.remove(os.path.join(state, "commits", "batch-2"))
    os.remove(os.path.join(state, "commits", "batch-3-flush"))
    os.remove(os.path.join(state, "offsets", "batch-2.json"))
    shutil.rmtree(os.path.join(state, "ckpt"))
    got = _got(_run(spark, _rows(spark, FIXTURE), state))
    assert got == want == EXPECTED


def test_oracle_parity_on_testdata(spark):
    out = QUERIES["stream_match_recognize"](spark, SF)
    got = sorted(tuple(str(x) for x in r) for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    exp = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(oracle_sql()).fetchall()
    )
    assert len(got) == len(exp) > 0
    assert got == exp


def test_streamed_equals_batch_cep(spark, tmp_path):
    """The module's core contract, asserted directly on real data: the
    streamed total (any drop layout) equals the BATCH match_recognize
    over the admitted rows. With single-drop delivery nothing is late,
    so it must equal the batch scan over ALL events."""
    from flink_kafka_table_api_spark.operators.cep import match_recognize

    ev = read_table(spark, SF, "events")
    chunked = ev.select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
        F.lit(0).alias("__chunk"),
    )
    streamed = stream_match_recognize(
        spark, chunked, str(tmp_path / "c5"), n_chunks=1, delay="2 days",
        key_col="user_id", ts_col="ts", id_col="event_id",
        define=[
            ("V", F.col("event_type") == "view"),
            ("K", F.col("event_type") == "click"),
            ("P", F.col("event_type") == "purchase"),
        ],
        pattern="V K+ P",
        measures={
            "start_ts": F.min("ts"),
            "end_ts": F.max("ts"),
            "n_clicks": F.sum((F.col("__symbol") == "K").cast("long")),
        },
    ).select("user_id", "start_ts", "end_ts", "n_clicks")
    batch = match_recognize(
        ev.select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                  "user_id", "event_type", "value"),
        key_col="user_id", order_cols=["ts", "event_id"],
        define=[
            ("V", F.col("event_type") == "view"),
            ("K", F.col("event_type") == "click"),
            ("P", F.col("event_type") == "purchase"),
        ],
        pattern="V K+ P",
        measures={
            "start_ts": F.min("ts"),
            "end_ts": F.max("ts"),
            "n_clicks": F.sum((F.col("__symbol") == "K").cast("long")),
        },
    ).select("user_id", "start_ts", "end_ts", "n_clicks")
    a = sorted(tuple(str(x) for x in r) for r in streamed.collect())
    b = sorted(tuple(str(x) for x in r) for r in batch.collect())
    assert a == b and len(a) > 0
