"""Selective reprocessing (`streaming/reprocess.py`, round 8): reset a
marker-protocol pipeline to drop K and re-run — batches < K no-op via
their markers (their published files are untouched, byte-for-byte),
batches >= K recompute against the surviving prefix state, and the final
result is identical to the original run."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from flink_kafka_table_api_spark.catalog import read_table
from flink_kafka_table_api_spark.queries import (
    _changelog_ops,
    _day_tercile,
    _events_min_date,
)
from flink_kafka_table_api_spark.streaming.reprocess import reset_from
from flink_kafka_table_api_spark.streaming.temporal_join import (
    stream_temporal_join,
)

SF = "/root/testdata/sf0.001"


def _fixture(spark):
    """The events changelog and the events as probes, both in natural day
    terciles."""
    ev = read_table(spark, SF, "events")
    natural = _day_tercile(_events_min_date(spark, SF))
    probes = ev.select(
        F.col("event_id").alias("probe_id"),
        F.col("ts").cast("timestamp").alias("probe_ts"),
        F.col("user_id").alias("key"),
        natural.alias("__chunk"),
    )
    return _changelog_ops(ev, natural), probes


def _run(spark, state):
    ops, probes = _fixture(spark)
    return stream_temporal_join(
        spark, ops, probes, state, n_chunks=3, delay="2 days",
    )


def _file_state(d):
    return sorted(
        (os.path.relpath(os.path.join(r, f), d),
         os.path.getmtime(os.path.join(r, f)))
        for r, _, fs in os.walk(d) for f in fs
    )


def test_reset_from_recomputes_only_the_tail(spark, tmp_path):
    state = str(tmp_path / "reproc")
    want = sorted(tuple(r) for r in _run(spark, state).collect())

    before_b0 = _file_state(os.path.join(state, "out", "batch_id=0"))
    removed = reset_from(state, 1)
    # markers 1,2; offsets 1,2; state versions 1,2; out partitions 1,2
    assert removed["markers"] == 2 and removed["offsets"] == 2
    assert removed["partitions"] == 2 and removed["checkpoint"] == 1
    assert not os.path.exists(os.path.join(state, "out", "batch_id=2"))
    assert os.path.isdir(os.path.join(state, "out", "batch_id=0"))

    got = sorted(tuple(r) for r in _run(spark, state).collect())
    assert got == want
    # batch 0 was NOT recomputed: its published files are untouched
    assert _file_state(os.path.join(state, "out", "batch_id=0")) == before_b0
    # batches 1,2 exist again
    assert os.path.isdir(os.path.join(state, "out", "batch_id=2"))


def test_reset_from_zero_is_full_rebuild(spark, tmp_path):
    state = str(tmp_path / "reproc0")
    want = sorted(tuple(r) for r in _run(spark, state).collect())
    removed = reset_from(state, 0)
    assert removed["markers"] == 3
    got = sorted(tuple(r) for r in _run(spark, state).collect())
    assert got == want
