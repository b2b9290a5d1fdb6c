"""Retract-stream Top-N (`streaming/retract.py`, built round 8,
registration-bound for a round-9/10 gate slot): Flink's Rank operator
over an update stream, emitting the RowKind changelog (+I/-U/+U/-D).
Pre-validated against a DuckDB replay that rebuilds per-batch ranked
snapshots and diffs consecutive ones, plus hand-built fixtures for the
changelog semantics that matter: rank-only changes emit -U/+U pairs,
a key pushed out emits -D with its OLD row, negative deltas shrink a
total and RE-ADMIT a previously-deleted key, the applied changelog
materializes the exact batch Top-N, and crash replay is clean."""

from __future__ import annotations

import os
import shutil

import duckdb
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.queries import (
    QUERIES,
    stream_topn_retract_sql as oracle_sql,
)
from flink_kafka_table_api_spark.streaming.retract import (
    apply_changelog,
    stream_topn_retract,
)

SF = "/root/testdata/sf0.001"


def _rows(spark, rows):
    """rows: (chunk, row_id, key, value)"""
    return spark.createDataFrame(
        rows, "c int, row_id long, key long, value double",
    ).select("row_id", "key", "value", F.col("c").alias("__chunk"))


FIXTURE = [
    # drop 0: totals 1->5, 2->3, 3->1; top2 = [1, 2]
    (0, 1, 1, 5.0),
    (0, 2, 2, 3.0),
    (0, 3, 3, 1.0),
    # drop 1: 3 +9 -> 10, 2 +1 -> 4; top2 = [3, 1] (2 pushed out,
    # 1 keeps its total but slides rank 1 -> 2)
    (1, 4, 3, 9.0),
    (1, 5, 2, 1.0),
    # drop 2: 3 -8 -> 2 (a RETRACTION: totals can shrink); top2 =
    # [1, 2] — key 2 re-enters without being touched this batch
    (2, 6, 3, -8.0),
]
# (batch_id, op, key, total, rnk)
EXPECTED = sorted([
    (0, "+I", 1, 5.0, 1),
    (0, "+I", 2, 3.0, 2),
    (1, "+I", 3, 10.0, 1),
    (1, "-D", 2, 3.0, 2),     # the OLD row leaves
    (1, "-U", 1, 5.0, 1),     # same total, rank slides: -U/+U pair
    (1, "+U", 1, 5.0, 2),
    (2, "+I", 2, 4.0, 2),     # re-admitted after deletion
    (2, "-D", 3, 10.0, 1),
    (2, "-U", 1, 5.0, 2),
    (2, "+U", 1, 5.0, 1),
])


def _got(out):
    return sorted(
        (r.batch_id, r.op, r.key, r.total, r.rnk) for r in out.collect()
    )


def _run(spark, path):
    return stream_topn_retract(
        spark, _rows(spark, FIXTURE), path, n_chunks=3, n=2,
    )


def test_changelog_semantics(spark, tmp_path):
    assert _got(_run(spark, str(tmp_path / "r1"))) == EXPECTED


def test_applied_changelog_materializes_the_topn(spark, tmp_path):
    """A consumer applying the log in (batch_id, op) order holds
    exactly the final batch Top-N: totals 1->5, 2->4, 3->2."""
    log = _run(spark, str(tmp_path / "r2"))
    got = sorted(
        (r.key, float(r.total), r.rnk)
        for r in apply_changelog(log).collect()
    )
    assert got == [(1, 5.0, 1), (2, 4.0, 2)]


def test_crash_replay_is_clean(spark, tmp_path):
    state = str(tmp_path / "r3")
    want = _got(_run(spark, state))
    os.remove(os.path.join(state, "commits", "batch-2"))
    shutil.rmtree(os.path.join(state, "ckpt"))
    got = _got(_run(spark, state))
    assert got == want == EXPECTED


def test_oracle_parity_on_testdata(spark):
    out = QUERIES["stream_topn_retract"](spark, SF)
    got = sorted(tuple(str(x) for x in r) for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    exp = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(oracle_sql()).fetchall()
    )
    assert len(got) == len(exp) > 0
    assert got == exp
    # live signals: the log actually churns — deletions and -U/+U pairs
    ops = [t[0] for t in got]
    assert "-D" in ops and "-U" in ops and "+U" in ops and "+I" in ops
