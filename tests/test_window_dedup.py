"""Window Deduplication TVF (`stream_window_dedup` in queries.py, built
round 8, registration-bound for round 9/10): first row per (tumbling
window, key) by the (ts, event_id) total order, through the real
engine with out-of-order drops — the keep-first is an argmin AGGREGATE
(one winner row of state per open window+key), not a per-row rank.
Pre-validated against the DuckDB replay the registration will use."""

from __future__ import annotations

import duckdb

from flink_kafka_table_api_spark.queries import (
    QUERIES,
    _late_shift_sql,
    stream_window_dedup_sql,
)


SF = "/root/testdata/sf0.001"


def test_oracle_parity_on_testdata(spark):
    out = QUERIES["stream_window_dedup"](spark, SF)
    got = sorted(tuple(str(x) for x in r) for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    exp = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(stream_window_dedup_sql()).fetchall()
    )
    assert len(got) == len(exp) > 0
    assert got == exp


def test_late_winner_semantics(spark):
    """The deduplication semantics the TVF promises, exercised through
    the oracle replay on testdata: (a) every (window, user) emits
    exactly one row; (b) at least one window's winner is NOT the
    arrival-order first row — a late-but-admitted row with an older
    event time takes the crown (keep-first is by EVENT time, which is
    exactly what arrival-order dropDuplicates gets wrong); (c) the
    too-late slice changed at least one winner vs the drop-nothing
    replay."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    rows = con.execute(stream_window_dedup_sql()).fetchall()
    keys = [(r[0], r[2]) for r in rows]
    assert len(keys) == len(set(keys))  # (a)
    # (b): some winner arrives one drop late yet has the smallest
    # (ts, event_id) of its window+user
    one_late = {r[0] for r in con.execute(
        f"SELECT event_id FROM events WHERE {_late_shift_sql()} = 1"
    ).fetchall()}
    late_winners = [r for r in rows if r[3] in one_late]
    assert late_winners, "no late-admitted row ever won a window"
    # (c): the watermark-dropped slice (two drops late) would have
    # won some window in the drop-nothing replay
    naive = con.execute("""
      WITH ranked AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
               user_id, event_id,
               row_number() OVER (PARTITION BY date_trunc('day', ts),
                                  user_id ORDER BY ts, event_id) AS rn
        FROM events
      )
      SELECT window_start, user_id, event_id FROM ranked,
           (SELECT MAX(ts) - INTERVAL 2 DAY AS w FROM events) wm
      WHERE rn = 1
        AND window_start + INTERVAL 1 DAY <= wm.w
    """).fetchall()
    naive_winner = {(r[0], r[1]): r[2] for r in naive}
    got_winner = {(r[0], r[2]): r[3] for r in rows}
    changed = {
        k for k in got_winner
        if k in naive_winner and naive_winner[k] != got_winner[k]
    }
    assert changed, "the dropped slice never changed a winner"


# ---------------------------------------------------------------------------
# Dynamic-gap session windows (same pre-validation file: both are
# windowing-surface capabilities staged for the same rounds)
# ---------------------------------------------------------------------------


def test_dynamic_session_oracle_parity(spark):
    from flink_kafka_table_api_spark.queries import (
        stream_session_dynamic_sql,
    )

    out = QUERIES["stream_session_dynamic"](spark, SF)
    got = sorted(tuple(str(x) for x in r) for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    exp = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(stream_session_dynamic_sql()).fetchall()
    )
    assert len(got) == len(exp) > 0
    assert got == exp
    # live signal: the dynamic gap must genuinely change the
    # sessionization vs a fixed 15-minute gap (some error/purchase kept
    # a session alive that the fixed gap would have split)
    fixed = con.execute("""
      WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 900
                    OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS ns
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      )
      SELECT COUNT(*) FROM (
        SELECT user_id, SUM(ns) AS n_sessions FROM flagged GROUP BY user_id
      )
    """).fetchone()[0]
    dyn_sessions = con.execute(f"""
      SELECT COUNT(*) FROM ({stream_session_dynamic_sql()})
    """).fetchone()[0]
    assert dyn_sessions != fixed


def test_window_join_oracle_parity(spark):
    """Window Join TVF (inner + left_outer tagged runs): oracle parity
    at sf0.001, plus the outer-emission live signal — some error rows
    really carry a NULL click, and some closed-window NULL rows exist
    while trailing-window unmatched errors stay withheld."""
    from flink_kafka_table_api_spark.queries import stream_window_join_sql

    out = QUERIES["stream_window_join"](spark, SF)
    got = sorted(tuple(str(x) for x in r) for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    exp = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(stream_window_join_sql()).fetchall()
    )
    assert len(got) == len(exp) > 0
    assert got == exp
    nulls = [r for r in exp if r[0] == "left_outer" and r[3] == "None"]
    assert nulls, "no unmatched error emitted a NULL click"
    withheld = con.execute("""
      WITH e AS (SELECT event_id, user_id, date_trunc('day', ts) AS w
                 FROM events WHERE event_type = 'error'),
           c AS (SELECT user_id, date_trunc('day', ts) AS w
                 FROM events WHERE event_type = 'click'),
           wm AS (SELECT LEAST(
                    (SELECT MAX(ts) FROM events WHERE event_type='error'),
                    (SELECT MAX(ts) FROM events WHERE event_type='click'))
                  - INTERVAL 5 SECOND AS w)
      SELECT COUNT(*) FROM e, wm
      WHERE e.w + INTERVAL 1 DAY > wm.w
        AND NOT EXISTS (SELECT 1 FROM c
                        WHERE c.w = e.w AND c.user_id = e.user_id)
    """).fetchone()[0]
    assert withheld > 0, "no trailing-window unmatched error to withhold"
