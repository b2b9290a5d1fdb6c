"""Per-key event-time state TTL on the update-mode GROUP BY
(`streaming/state_ttl.py`, built round 10, staged for a round-11 gate
slot — Flink's table.exec.state.ttl / StateTtlConfig idle-state
retention). Pinned here: idle keys age OUT of the aggregates (the
bounded-state guarantee), a returning key restarts from its fresh row
(Flink's 'forgotten key = fresh arrival' rule), a late op for an
already-evicted key cannot resurrect it (the monotone-cutoff
equivalence in the module docstring), the exact-cutoff key is evicted
(strict >), crash replay, and full-value oracle parity at BOTH gate
SFs."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.queries import (
    QUERIES,
    stream_state_ttl_sql,
)
from flink_kafka_table_api_spark.streaming.state_ttl import (
    stream_agg_state_ttl,
)


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


def test_idle_key_ages_out_of_the_aggregate(spark, tmp_path):
    """Key 1 (day 1) goes idle; key 2 keeps updating. With ttl=3 days,
    batch 1's clock (day 5) evicts key 1 (1 <= 5-3): group 'a' shrinks
    to key 2 alone — WITHOUT any delete op arriving. The TTL-less
    sibling would keep key 1 forever."""
    rows = [
        (0, 1, "2024-01-01 10:00:00", 1, "a", "U", 10.0),
        (0, 2, "2024-01-01 11:00:00", 2, "a", "U", 4.0),
        (1, 3, "2024-01-05 11:00:00", 2, "a", "U", 6.0),
    ]
    out = stream_agg_state_ttl(
        spark, _ops(spark, rows), str(tmp_path / "s1"), n_chunks=2,
        ttl="3 days",
    )
    assert _got(out) == [
        (0, "+I", "a", 2, 14.0),
        (1, "+U", "a", 1, 6.0),
        (1, "-U", "a", 2, 14.0),
    ]


def test_returning_key_restarts_fresh(spark, tmp_path):
    """Key 1 is evicted at batch 1 (idle past ttl), then RETURNS with a
    fresh row at batch 2: it re-enters as a fresh arrival — Flink's
    documented idle-state-retention behavior. A group that empties by
    eviction emits -D, and the return emits +I."""
    rows = [
        (0, 1, "2024-01-01 10:00:00", 1, "a", "U", 10.0),
        (1, 2, "2024-01-06 10:00:00", 2, "b", "U", 5.0),
        (2, 3, "2024-01-07 10:00:00", 1, "a", "U", 2.5),
    ]
    out = stream_agg_state_ttl(
        spark, _ops(spark, rows), str(tmp_path / "s2"), n_chunks=3,
        ttl="3 days",
    )
    assert _got(out) == [
        (0, "+I", "a", 1, 10.0),
        (1, "+I", "b", 1, 5.0),
        (1, "-D", "a", 1, 10.0),   # evicted by clock day6 - 3d > day1
        (2, "+I", "a", 1, 2.5),    # fresh arrival, NOT the old 10.0
        # b (day6) survives batch 2's cutoff day7 - 3d = day4
    ]


def test_late_op_cannot_resurrect_an_evicted_key(spark, tmp_path):
    """Key 1's state was evicted at batch 1. At batch 2 a LATE op for
    key 1 arrives whose op_ts is ALSO behind the cutoff: it must not
    re-enter the aggregate (engine merge-then-evict == oracle filter,
    the monotone-cutoff equivalence)."""
    rows = [
        (0, 1, "2024-01-01 10:00:00", 1, "a", "U", 10.0),
        (1, 2, "2024-01-06 10:00:00", 2, "b", "U", 5.0),
        (2, 3, "2024-01-02 09:00:00", 1, "a", "U", 7.0),
        (2, 4, "2024-01-07 10:00:00", 2, "b", "U", 6.0),
    ]
    out = stream_agg_state_ttl(
        spark, _ops(spark, rows), str(tmp_path / "s3"), n_chunks=3,
        ttl="3 days",
    )
    assert _got(out) == [
        (0, "+I", "a", 1, 10.0),
        (1, "+I", "b", 1, 5.0),
        (1, "-D", "a", 1, 10.0),
        # batch 2: late key-1 op (day2) is behind cutoff day7-3d=day4 —
        # 'a' stays gone; only b updates
        (2, "+U", "b", 1, 6.0),
        (2, "-U", "b", 1, 5.0),
    ]


def test_exact_cutoff_key_is_evicted(spark, tmp_path):
    """Strict >: a winner with op_ts == clock - ttl is evicted (the
    fired-retention-timer rule), one microsecond later survives."""
    rows = [
        (0, 1, "2024-01-02 10:00:00", 1, "a", "U", 1.0),          # == cutoff
        (0, 2, "2024-01-02 10:00:00.000001", 2, "a", "U", 2.0),   # +1us
        (1, 3, "2024-01-05 10:00:00", 3, "b", "U", 4.0),          # clock
    ]
    out = stream_agg_state_ttl(
        spark, _ops(spark, rows), str(tmp_path / "s4"), n_chunks=2,
        ttl="3 days",
    )
    assert _got(out) == [
        (0, "+I", "a", 2, 3.0),
        (1, "+I", "b", 1, 4.0),
        (1, "+U", "a", 1, 2.0),
        (1, "-U", "a", 2, 3.0),
    ]


def test_state_is_bounded_by_the_ttl_horizon(spark, tmp_path):
    """The guarantee itself: after the final batch the persisted state
    holds ONLY keys inside the horizon — eviction removes rows from
    carried state, not just from the aggregate."""
    rows = [
        (0, 1, "2024-01-01 10:00:00", 1, "a", "U", 1.0),
        (0, 2, "2024-01-01 11:00:00", 2, "a", "U", 2.0),
        (1, 3, "2024-01-07 10:00:00", 3, "a", "U", 3.0),
        (2, 4, "2024-01-09 10:00:00", 4, "a", "U", 4.0),
    ]
    state = str(tmp_path / "s5")
    stream_agg_state_ttl(
        spark, _ops(spark, rows), state, n_chunks=3, ttl="3 days",
    )
    # batch-2 clock day9 -> cutoff day6: keys 1, 2 (day1) are GONE from
    # the persisted state, keys 3 (day7) and 4 (day9) remain
    final = spark.read.parquet(os.path.join(state, "state", "batch-2"))
    assert sorted(r.key for r in final.collect()) == [3, 4]


def test_crash_replay_is_clean(spark, tmp_path):
    rows = [
        (0, 1, "2024-01-01 10:00:00", 1, "a", "U", 1.0),
        (1, 2, "2024-01-05 10:00:00", 2, "a", "U", 2.0),
        (2, 3, "2024-01-08 10:00:00", 1, "b", "U", 3.0),
    ]
    state = str(tmp_path / "s6")
    out = stream_agg_state_ttl(
        spark, _ops(spark, rows), state, n_chunks=3, ttl="3 days",
    )
    want = _got(out)
    os.remove(os.path.join(state, "commits", "batch-2"))
    for d in ("out", "state", "agg"):
        shutil.rmtree(os.path.join(state, d, "batch-2"),
                      ignore_errors=True)
    shutil.rmtree(os.path.join(state, "ckpt"))
    out2 = stream_agg_state_ttl(
        spark, _ops(spark, rows), state, n_chunks=3, ttl="3 days",
    )
    assert _got(out2) == want


def test_live_signal_on_testdata():
    """tests/test_oracle_parity.py pins the registered stream_state_ttl to this
    oracle at sf0.001; the live signal is checked on the oracle's rows."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "'/root/testdata/sf0.001/events.parquet'"
    )
    ops = {r[0] for r in con.execute(stream_state_ttl_sql()).fetchall()}
    # the update-mode class is exercised
    assert "-U" in ops, sorted(ops)


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01"])
def test_oracle_parity_on_testdata(spark, sf):
    out = QUERIES["stream_state_ttl"](spark, sf)
    got = sorted(tuple(str(x) for x in r) for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    exp = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(stream_state_ttl_sql()).fetchall()
    )
    assert len(got) == len(exp) > 0
    assert got == exp
    # live signal: the update-mode class is exercised (row order is
    # op, grp, n_keys, total, batch_id)
    assert any(r[0] == "-U" for r in got), sorted({r[0] for r in got})


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001",
                                "/root/testdata/sf0.01"])
def test_ttl_actually_evicts_on_testdata(spark, sf):
    """The TTL run must differ from the TTL-less sibling at the final
    batch — otherwise the 12-day horizon is dead on this corpus and the
    gate row would not exercise eviction."""
    from flink_kafka_table_api_spark.queries import (
        stream_agg_retract_sql,
    )

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    ttl_final = {
        (r[1], r[2], r[3])
        for r in con.execute(stream_state_ttl_sql()).fetchall()
        if r[4] == 2 and r[0] in ("+I", "+U")
    }
    plain_final = {
        (r[1], r[2], r[3])
        for r in con.execute(stream_agg_retract_sql()).fetchall()
        if r[4] == 2 and r[0] in ("+I", "+U")
    }
    assert ttl_final != plain_final
