"""Retract-mode GROUP BY aggregation (`streaming/agg_retract.py`, built
round 9, staged for a round-10 gate slot): GROUP BY over an
upsert/delete changelog, emitted as a RowKind changelog. Pinned here:
the REGROUP semantics append-folding gets wrong (a key's new version
retracts its old contribution from its old group), delete -> -D when a
group empties, changelog application == the final GROUP BY, crash
replay, and full-value oracle parity at BOTH gate SFs."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.queries import (
    QUERIES,
    stream_agg_retract_sql,
)
from flink_kafka_table_api_spark.streaming.agg_retract import (
    stream_agg_retract,
)
from flink_kafka_table_api_spark.streaming.retract import apply_changelog

SF = "/root/testdata/sf0.001"


def _ops(spark, rows):
    """rows: (chunk, op_id, 'ts string', key, grp, op, value)"""
    return spark.createDataFrame(
        rows, "c int, op_id long, op_ts string, key long, grp string, "
              "op string, value double",
    ).select(
        "op_id", F.to_timestamp("op_ts").alias("op_ts"), "key", "grp",
        "op", "value", F.col("c").alias("__chunk"),
    )


def _got(out):
    return sorted(
        (r.batch_id, r.op, r.grp, r.n_keys, r.total) for r in out.collect()
    )


def test_regroup_retracts_from_the_old_group(spark, tmp_path):
    """Key 1 is in group 'a' with value 10 at batch 0; at batch 1 its
    NEW version moves it to group 'b' with value 3. Correct update-mode
    semantics: a's aggregate loses key 1 entirely (here a empties:
    -D), b gains it. An append-style fold would keep 10 inside a."""
    rows = [
        (0, 1, "2024-01-01 10:00:00", 1, "a", "U", 10.0),
        (0, 2, "2024-01-01 10:00:00", 2, "b", "U", 5.0),
        (1, 3, "2024-01-02 10:00:00", 1, "b", "U", 3.0),
    ]
    out = stream_agg_retract(
        spark, _ops(spark, rows), str(tmp_path / "s1"), n_chunks=2,
    )
    assert _got(out) == [
        (0, "+I", "a", 1, 10.0),
        (0, "+I", "b", 1, 5.0),
        (1, "+U", "b", 2, 8.0),
        (1, "-D", "a", 1, 10.0),
        (1, "-U", "b", 1, 5.0),
    ]


def test_delete_and_older_op_loses_to_tombstone(spark, tmp_path):
    """Key 1 deleted at batch 1 (group empties -> -D); at batch 2 an
    OLDER upsert of key 1 arrives and must LOSE to the tombstone
    (the cdc_apply seed rule) — no change emitted."""
    rows = [
        (0, 1, "2024-01-05 10:00:00", 1, "a", "U", 10.0),
        (1, 2, "2024-01-06 10:00:00", 1, "a", "D", 0.0),
        (2, 3, "2024-01-05 09:00:00", 1, "a", "U", 7.0),
    ]
    out = stream_agg_retract(
        spark, _ops(spark, rows), str(tmp_path / "s2"), n_chunks=3,
    )
    assert _got(out) == [
        (0, "+I", "a", 1, 10.0),
        (1, "-D", "a", 1, 10.0),
    ]


def test_applying_the_changelog_materializes_the_group_by(spark, tmp_path):
    rows = [
        (0, 1, "2024-01-01 10:00:00", 1, "a", "U", 10.0),
        (0, 2, "2024-01-01 11:00:00", 2, "a", "U", 4.0),
        (1, 3, "2024-01-02 10:00:00", 1, "b", "U", 3.0),
        (2, 4, "2024-01-03 10:00:00", 2, "a", "D", 0.0),
        (2, 5, "2024-01-03 11:00:00", 3, "b", "U", 1.5),
    ]
    out = stream_agg_retract(
        spark, _ops(spark, rows), str(tmp_path / "s3"), n_chunks=3,
    )
    got = sorted(
        (r.grp, r.n_keys, r.total)
        for r in apply_changelog(out, "grp").collect()
    )
    # final state: key1->b(3.0), key2 deleted, key3->b(1.5); a is gone
    assert got == [("b", 2, 4.5)]


def test_crash_replay_is_clean(spark, tmp_path):
    rows = [
        (0, 1, "2024-01-01 10:00:00", 1, "a", "U", 1.0),
        (1, 2, "2024-01-02 10:00:00", 2, "a", "U", 2.0),
        (2, 3, "2024-01-03 10:00:00", 1, "b", "U", 3.0),
    ]
    state = str(tmp_path / "s4")
    out = stream_agg_retract(
        spark, _ops(spark, rows), state, n_chunks=3,
    )
    want = _got(out)
    os.remove(os.path.join(state, "commits", "batch-2"))
    for d in ("out", "state", "agg"):
        shutil.rmtree(os.path.join(state, d, "batch-2"),
                      ignore_errors=True)
    shutil.rmtree(os.path.join(state, "ckpt"))
    out2 = stream_agg_retract(
        spark, _ops(spark, rows), state, n_chunks=3,
    )
    assert _got(out2) == want


def test_replay_of_committed_batches_is_a_noop(spark, tmp_path):
    rows = [
        (0, 1, "2024-01-01 10:00:00", 1, "a", "U", 1.0),
        (1, 2, "2024-01-02 10:00:00", 2, "b", "U", 2.0),
    ]
    state = str(tmp_path / "s5")
    out = stream_agg_retract(spark, _ops(spark, rows), state, n_chunks=2)
    want = _got(out)
    shutil.rmtree(os.path.join(state, "ckpt"))
    out2 = stream_agg_retract(spark, _ops(spark, rows), state, n_chunks=2)
    assert _got(out2) == want


def test_live_signal_on_testdata():
    """tests/test_oracle_parity.py pins the registered stream_agg_retract to
    this oracle at sf0.001; the live signal is checked on the oracle's
    rows."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    ops = {r[0] for r in con.execute(stream_agg_retract_sql()).fetchall()}
    # retractions really happen after batch 0 (the update-mode class is
    # exercised, not just |groups| +I rows)
    assert "-U" in ops, sorted(ops)


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01"])
def test_oracle_parity_on_testdata(spark, sf):
    out = QUERIES["stream_agg_retract"](spark, sf)
    got = sorted(tuple(str(x) for x in r) for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    exp = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(stream_agg_retract_sql()).fetchall()
    )
    assert len(got) == len(exp) > 0
    assert got == exp
    # live signal: retractions really happen after batch 0 (the
    # update-mode class is exercised, not just |groups| +I rows)
    assert any(r[0] == "-U" for r in got), sorted({r[0] for r in got})
