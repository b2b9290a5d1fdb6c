"""Custom stateful streaming operator test: state must persist across
micro-batches (the property that distinguishes applyInPandasWithState from
a per-batch groupBy)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_kafka_table_api_spark.sources.files import stream_parquet_dir
from flink_kafka_table_api_spark.streaming.stateful import running_totals


def _write(spark, rows, path):
    spark.createDataFrame(rows, "user_id long, value double").coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _t(s):
    from datetime import datetime

    return datetime(2024, 1, 1, 0, 0, 0).replace(minute=s // 60, second=s % 60)


def _run_session_op(spark, tmp_path, build_stream_op, name):
    src = str(tmp_path / f"{name}_src")
    schema = "user_id long, ts timestamp, value double"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # batch 1: user 1 -> events at 0s and 10s; user 2 -> event at 5s
    write([(1, _t(0), 1.0), (1, _t(10), 2.0), (2, _t(5), 7.0)])
    stream = stream_parquet_dir(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )
    out = build_stream_op(stream)
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
        .start()
    )
    q.processAllAvailable()
    # batch 2: user 1 again at 1000s — far beyond the 60s gap, so the
    # first session closes inline AND the watermark jumps to ~999s,
    # firing user 2's timeout in the trailing no-data batch.
    write([(1, _t(1000), 3.0)])
    q.processAllAvailable()
    q.stop()
    return spark.table(name).collect()


def _assert_sessions(got):
    by_key = {(r.user_id, r.session_start): r for r in got}
    assert (1, _t(0)) in by_key and by_key[(1, _t(0))].n_events == 2
    assert by_key[(1, _t(0))].total_value == 3.0
    assert by_key[(1, _t(0))].session_end == _t(70)
    assert (2, _t(5)) in by_key and by_key[(2, _t(5))].n_events == 1
    assert by_key[(2, _t(5))].session_end == _t(65)
    # user 1's second session (start 1000s) is still OPEN -> not emitted
    assert (1, _t(1000)) not in by_key


def test_session_windows_timeout(spark, tmp_path):
    """Event-time-timeout sessionizer (applyInPandasWithState): inline
    gap-close on input, timeout-close once the watermark passes last+gap,
    open sessions withheld."""
    from flink_kafka_table_api_spark.streaming.stateful import (
        session_windows_timeout,
    )

    got = _run_session_op(
        spark, tmp_path,
        lambda s: session_windows_timeout(s, gap_seconds=60),
        "timeout_sessions",
    )
    _assert_sessions(got)


def test_state_survives_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    _write(spark, [(1, 10.0), (1, 5.0), (2, 1.0)], src)
    stream = stream_parquet_dir(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )
    out = running_totals(stream)
    q = (
        out.writeStream.format("memory").queryName("state_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    # second batch: user 1 adds more -> totals must ACCUMULATE, not reset
    _write(spark, [(1, 100.0), (3, 7.0)], src)
    q.processAllAvailable()
    q.stop()
    rows = spark.table("state_test").collect()
    # update mode appends one row per key per batch; latest row per key wins
    latest = {}
    for r in rows:
        latest[r.user_id] = (r.n_events, r.total_value)
    assert latest[1] == (3, 115.0)   # 2 events batch1 + 1 event batch2
    assert latest[2] == (1, 1.0)
    assert latest[3] == (1, 7.0)
