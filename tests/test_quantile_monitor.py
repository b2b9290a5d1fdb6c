"""Streaming quantile monitor (`streaming/quantile_monitor.py`, built
round 9, staged for a round-10 gate slot): mergeable fixed-bin
histogram state -> per-batch p50/p90/p99 with an explicit error bar.
Pinned here: hand-computable rank selection, calibration clamp for
out-of-range later drops, histogram-merge == one-shot batch histogram,
crash replay, and full-value oracle parity at BOTH gate SFs."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.queries import (
    QUERIES,
    stream_quantile_monitor_sql,
)
from flink_kafka_table_api_spark.streaming.quantile_monitor import (
    stream_quantile_monitor,
)


def _rows(spark, rows):
    """rows: (chunk, value)"""
    return spark.createDataFrame(
        rows, "c int, value double",
    ).select("value", F.col("c").alias("__chunk"))


def _got(out):
    return sorted(
        (r.batch_id, r.q, r.n_seen, r.bin_idx, r.q_lo, r.bin_width)
        for r in out.collect()
    )


def test_rank_selection_is_hand_checkable(spark, tmp_path):
    """Drop 0: values 0..9 -> lo=0, hi=9, w=9/4 with 4 bins
    ([0,2.25) [2.25,4.5) [4.5,6.75) [6.75,9]): counts 3/2/2/3.
    p50 target rank 5 -> bin 1 (cum 3,5). p90 rank 9 -> bin 3.
    Drop 1 adds ten 9.0s: n=20, p50 rank 10 -> bin 3 (cum 3,5,7,20)."""
    rows = [(0, float(v)) for v in range(10)] + [(1, 9.0)] * 10
    out = stream_quantile_monitor(
        spark, _rows(spark, rows), str(tmp_path / "s1"),
        n_chunks=2, n_bins=4, quantiles=(0.5, 0.9),
    )
    w = 9.0 / 4
    assert _got(out) == [
        (0, 0.5, 10, 1, 1 * w, w),
        (0, 0.9, 10, 3, 3 * w, w),
        (1, 0.5, 20, 3, 3 * w, w),
        (1, 0.9, 20, 3, 3 * w, w),
    ]


def test_out_of_range_values_clamp_into_edge_bins(spark, tmp_path):
    """Later drops outside the calibrated range saturate the edge bins
    (the fixed-sketch trade, loud by design): a flood of 100.0s lands
    in the top bin and drags every quantile there."""
    rows = [(0, float(v)) for v in range(10)] + [(1, 100.0)] * 30
    out = stream_quantile_monitor(
        spark, _rows(spark, rows), str(tmp_path / "s2"),
        n_chunks=2, n_bins=4, quantiles=(0.5,),
    )
    got = {r[0]: r for r in _got(out)}
    assert got[1][3] == 3            # p50 in the saturated top bin
    assert got[1][2] == 40


def test_crash_replay_is_clean(spark, tmp_path):
    rows = [(0, float(v)) for v in range(10)] + [(1, 5.0), (2, 7.0)]
    state = str(tmp_path / "s3")
    out = stream_quantile_monitor(
        spark, _rows(spark, rows), state, n_chunks=3, n_bins=4,
    )
    want = _got(out)
    os.remove(os.path.join(state, "commits", "batch-2"))
    os.remove(os.path.join(state, "offsets", "batch-2.json"))
    for d in ("out", "hist"):
        shutil.rmtree(os.path.join(state, d, "batch-2"),
                      ignore_errors=True)
    shutil.rmtree(os.path.join(state, "ckpt"))
    out2 = stream_quantile_monitor(
        spark, _rows(spark, rows), state, n_chunks=3, n_bins=4,
    )
    assert _got(out2) == want


def test_replay_of_committed_batches_is_a_noop(spark, tmp_path):
    rows = [(0, float(v)) for v in range(10)] + [(1, 5.0)]
    state = str(tmp_path / "s4")
    out = stream_quantile_monitor(
        spark, _rows(spark, rows), state, n_chunks=2, n_bins=4,
    )
    want = _got(out)
    shutil.rmtree(os.path.join(state, "ckpt"))
    out2 = stream_quantile_monitor(
        spark, _rows(spark, rows), state, n_chunks=2, n_bins=4,
    )
    assert _got(out2) == want


def test_oracle_shape_on_testdata():
    """tests/test_oracle_parity.py pins the registered stream_quantile_monitor
    to this oracle at sf0.001; its shape is checked on the oracle's
    rows."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    rows = con.execute(stream_quantile_monitor_sql()).fetchall()
    assert len(rows) == 9   # 3 batches x 3 quantiles


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01"])
def test_oracle_parity_on_testdata(spark, sf):
    out = QUERIES["stream_quantile_monitor"](spark, sf)
    got = sorted(tuple(str(x) for x in r) for r in out.collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    exp = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(stream_quantile_monitor_sql()).fetchall()
    )
    assert len(got) == len(exp) == 9   # 3 batches x 3 quantiles
    assert got == exp
