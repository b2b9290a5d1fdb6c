"""CUMULATE windows (`streaming/cumulate.py`, built round 8,
registration-bound for round 9/10): Flink's cumulate windowing TVF as
step-tumble partials + densified spine + one running-merge fold, plus
the streaming form whose stage 1 runs on the real engine over
out-of-order drops. Pre-validated here against the DuckDB replays the
registration will use (`cumulate_windows_sql` / `stream_cumulate_sql` in
queries.py), plus hand fixtures for the semantics that matter: a slice
with no new data still fires with the carried cumulative, slices before
a key's first datum don't fire, window/step alignment, late-drop
admission through the streaming path."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.functions.portable import DEC
from flink_kafka_table_api_spark.queries import (
    QUERIES,
    cumulate_windows_sql,
    stream_cumulate_sql,
)
from flink_kafka_table_api_spark.streaming.cumulate import cumulate


SF = "/root/testdata/sf0.001"


def _fixture_df(spark):
    # one cumulate day (2024-01-01, step 6h, size 4 steps):
    #   key 'a': rows at 01:00 and 02:00 (slice 1) and 14:00 (slice 3)
    #            -> slices 1,2,3,4 fire; slice 2 fires EMPTY-carried
    #   key 'b': first row at 19:00 (slice 4) -> only slice 4 fires
    # plus one row on 2024-01-02 for 'a' -> its own window
    rows = [
        ("2024-01-01 01:00:00", "a", 1.0),
        ("2024-01-01 02:00:00", "a", 2.0),
        ("2024-01-01 14:00:00", "a", 4.0),
        ("2024-01-01 19:00:00", "b", 8.0),
        ("2024-01-02 03:00:00", "a", 16.0),
    ]
    return spark.createDataFrame(rows, "ts string, k string, v double").select(
        F.to_timestamp("ts").alias("ts"), "k", "v"
    )


def test_cumulate_semantics_fixture(spark):
    out = cumulate(
        _fixture_df(spark), "ts", step_seconds=21600, size_steps=4,
        group_by=("k",),
        partial_aggs=(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("v").cast(DEC)).alias("sv"),
        ),
        merge_sum=("n", "sv"),
    ).select(
        F.date_format("window_start", "MM-dd HH").alias("ws"),
        F.date_format("window_end", "MM-dd HH").alias("we"),
        "k", "n", F.col("sv").cast("double").alias("sv"),
    )
    got = {(r.ws, r.we, r.k): (r.n, r.sv) for r in out.collect()}
    assert got == {
        ("01-01 00", "01-01 06", "a"): (2, 3.0),
        ("01-01 00", "01-01 12", "a"): (2, 3.0),   # empty slice carries
        ("01-01 00", "01-01 18", "a"): (3, 7.0),
        ("01-01 00", "01-02 00", "a"): (3, 7.0),
        ("01-01 00", "01-02 00", "b"): (1, 8.0),   # only b's first slice
        ("01-02 00", "01-02 06", "a"): (1, 16.0),
        ("01-02 00", "01-02 12", "a"): (1, 16.0),
        ("01-02 00", "01-02 18", "a"): (1, 16.0),
        ("01-02 00", "01-03 00", "a"): (1, 16.0),
    }


@pytest.mark.parametrize(
    "name,sql",
    [
        ("cumulate_windows", cumulate_windows_sql()),
        ("stream_cumulate", stream_cumulate_sql()),
    ],
)
def test_oracle_parity_on_testdata(spark, name, sql):
    out = QUERIES[name](spark, SF)
    got = sorted(tuple(str(x) for x in r) for r in out.collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'"
    )
    exp = sorted(tuple(str(x) for x in r) for r in con.execute(sql).fetchall())
    assert len(got) == len(exp) > 0
    assert got == exp


def test_stream_form_has_live_signal(spark):
    """The lateness construction must matter: the streaming result
    differs from the drop-nothing batch cumulate bounded by the same
    terminal watermark (some two-drops-late rows really crossed the eviction
    horizon), and at least one emitted slice carries a cumulative with
    no populated partial of its own (the densified-spine case)."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'"
    )
    stream_rows = con.execute(stream_cumulate_sql()).fetchall()
    batch_capped = con.execute(f"""
        SELECT c.* FROM ({cumulate_windows_sql()}) c,
             (SELECT MAX(ts) - INTERVAL 2 DAY AS w FROM events) wm
        WHERE c.window_end <= wm.w
    """).fetchall()
    assert sorted(map(str, stream_rows)) != sorted(map(str, batch_capped)), (
        "the watermark dropped no row that mattered — no live signal"
    )
    spine_only = con.execute(f"""
        WITH m AS ({stream_cumulate_sql()}),
        prt AS (
          SELECT CAST(to_timestamp((epoch(ts)::BIGINT // 21600 + 1) * 21600)
                   AS TIMESTAMP) AS window_end, event_type
          FROM events GROUP BY 1, 2
        )
        SELECT COUNT(*) FROM m LEFT JOIN prt
          ON m.window_end = prt.window_end
             AND m.event_type = prt.event_type
        WHERE prt.window_end IS NULL
    """).fetchone()[0]
    assert spine_only > 0, "no emitted slice was spine-densified"
