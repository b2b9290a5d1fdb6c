"""CDC changelog apply (`streaming/cdc_apply.py`, built round 8,
registration-bound for round 9): a keyed changelog of upserts/deletes
delivered as out-of-order micro-batch drops, materialized into the
current-state snapshot under an event-time watermark. Pre-validated
here against a DuckDB replay of admission + per-key argmax, plus
hand-built fixtures for the semantics that matter: delete tombstones,
late-but-admitted ops that must NOT overwrite newer state, too-late
ops dropped deterministically, crash replay, bounded version tail."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.queries import (
    QUERIES,
    _admitted_sql,
    _changelog_ops_sql,
    _late_drop_sql,
    stream_cdc_apply_sql as _events_ops_oracle,
)
from flink_kafka_table_api_spark.streaming import batch_commit
from flink_kafka_table_api_spark.streaming.cdc_apply import stream_cdc_apply

SF = "/root/testdata/sf0.001"


def _chunked_ops(spark, rows):
    """rows: (chunk, op_id, 'ts string', key, op, value)"""
    return spark.createDataFrame(
        rows, "c int, op_id long, op_ts string, key long, op string, "
              "value double",
    ).select(
        "op_id", F.to_timestamp("op_ts").alias("op_ts"), "key", "op",
        "value", F.col("c").alias("__chunk"),
    )


def test_upsert_delete_and_late_merge_semantics(spark, tmp_path):
    """One key per behavior:
      key 1: U then newer U           -> newest value wins
      key 2: U then newer D           -> tombstoned, absent
      key 3: D then newer U           -> re-inserted
      key 4: newer U in drop 0, OLDER U arrives late in drop 1
             (admitted: inside the watermark) -> must NOT overwrite
      key 5: single U so old it is below the watermark when its drop
             arrives -> dropped, key absent"""
    rows = [
        (0, 10, "2024-01-09 10:00:00", 1, "U", 1.0),
        (0, 11, "2024-01-09 11:00:00", 1, "U", 2.0),
        (0, 12, "2024-01-09 10:00:00", 2, "U", 3.0),
        (0, 13, "2024-01-09 11:00:00", 2, "D", 0.0),
        (0, 14, "2024-01-09 10:00:00", 3, "D", 0.0),
        (0, 15, "2024-01-09 11:00:00", 3, "U", 4.0),
        (0, 16, "2024-01-09 12:00:00", 4, "U", 5.0),
        # drop 1: watermark is 2024-01-09 12:00 - 2 days = 2024-01-07 12:00
        (1, 17, "2024-01-09 09:00:00", 4, "U", 6.0),   # late, admitted, older
        (1, 18, "2024-01-05 00:00:00", 5, "U", 7.0),   # too late: dropped
        (1, 19, "2024-01-09 13:00:00", 6, "U", 8.0),
    ]
    out = stream_cdc_apply(
        spark, _chunked_ops(spark, rows), str(tmp_path / "s1"),
        n_chunks=2, delay="2 days",
    )
    got = {r.key: (r.last_op_id, r.last_value, r.n_ops) for r in out.collect()}
    # n_ops counts ADMITTED ops per key: key 4 has 2 (the late-admitted
    # older op merged without overwriting), key 5's only op was dropped
    assert got == {
        1: (11, 2.0, 2), 3: (15, 4.0, 2), 4: (16, 5.0, 2), 6: (19, 8.0, 1),
    }


def test_crash_replay_is_clean(spark, tmp_path):
    rows = [
        (0, 1, "2024-01-09 10:00:00", 1, "U", 1.0),
        (1, 2, "2024-01-09 11:00:00", 1, "U", 2.0),
        (2, 3, "2024-01-09 12:00:00", 2, "U", 3.0),
    ]
    state = str(tmp_path / "s2")
    out = stream_cdc_apply(
        spark, _chunked_ops(spark, rows), state, n_chunks=3, delay="2 days",
    )
    want = sorted(tuple(r) for r in out.collect())
    # crash between batch 2's state publish and its marker
    os.remove(os.path.join(state, "commits", "batch-2"))
    os.remove(os.path.join(state, "offsets", "batch-2.json"))
    shutil.rmtree(os.path.join(state, "state", "batch-2"))
    shutil.rmtree(os.path.join(state, "ckpt"))
    out2 = stream_cdc_apply(
        spark, _chunked_ops(spark, rows), state, n_chunks=3, delay="2 days",
    )
    assert sorted(tuple(r) for r in out2.collect()) == want


def test_version_tail_is_bounded(spark, tmp_path, monkeypatch):
    rows = [
        (i, 100 + i, f"2024-01-0{i + 1} 10:00:00", i % 2, "U", float(i))
        for i in range(5)
    ]
    state = str(tmp_path / "s3")
    monkeypatch.setattr(batch_commit, "KEEP_VERSIONS", 2)
    stream_cdc_apply(
        spark, _chunked_ops(spark, rows), state, n_chunks=5,
        delay="30 days",
    )
    versions = sorted(os.listdir(os.path.join(state, "state")))
    assert versions == ["batch-3", "batch-4"]


def test_oracle_parity_on_testdata(spark):
    out = QUERIES["stream_cdc_apply"](spark, SF)
    got = sorted(tuple(str(x) for x in r) for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    exp = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(_events_ops_oracle()).fetchall()
    )
    assert len(got) == len(exp) > 0
    assert got == exp
    # live signal: the snapshot differs from the drop-nothing replay
    # (a too-late op really changed some key's current state)
    naive = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(f"""
      WITH win AS (
        SELECT key, op_id AS last_op_id, op_ts AS last_op_ts,
               op AS last_op, value AS last_value,
               row_number() OVER (PARTITION BY key
                                  ORDER BY op_ts DESC, op_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY key) AS n_ops
        FROM (SELECT {_changelog_ops_sql()} FROM events)
      )
      SELECT key, last_op_id, last_op_ts, last_op, last_value,
             CAST(n_ops AS BIGINT) AS n_ops
      FROM win WHERE rn = 1 AND last_op <> 'D'
    """).fetchall()
    )
    assert got != naive, (
        "the watermark excluded no op that mattered — the lateness "
        "construction has no live signal on this corpus"
    )
    dropped = con.execute(f"""
      WITH chun AS (
        SELECT {_changelog_ops_sql()}, {_late_drop_sql()} AS chunk
        FROM events
      ),
      {_admitted_sql("adm", "chun", "INTERVAL 2 DAY", ts="op_ts")}
      SELECT (SELECT COUNT(*) FROM chun) - (SELECT COUNT(*) FROM adm)
    """).fetchone()[0]
    assert dropped > 0, "no op crossed the admission watermark"


BOOT_ROWS = [
    (0, 10, "2024-01-09 10:00:00", 1, "U", 1.0),
    (0, 11, "2024-01-09 11:00:00", 1, "U", 2.0),
    (0, 12, "2024-01-09 10:00:00", 2, "U", 3.0),
    (0, 13, "2024-01-09 11:00:00", 2, "D", 0.0),
    (0, 14, "2024-01-09 12:00:00", 4, "U", 5.0),
    # key 7: upsert then DELETE inside drop 0 — the tombstone-handoff key
    (0, 15, "2024-01-09 08:00:00", 7, "U", 6.0),
    (0, 16, "2024-01-09 12:00:00", 7, "D", 0.0),
    # drop 1: watermark = 01-09 12:00 - 2 days
    (1, 17, "2024-01-09 09:00:00", 4, "U", 7.0),   # late, older: no overwrite
    (1, 18, "2024-01-09 10:00:00", 7, "U", 8.0),   # late, OLDER than key 7's
    #                                                delete: must stay deleted
    (1, 19, "2024-01-09 13:00:00", 6, "U", 9.0),
    (2, 20, "2024-01-09 14:00:00", 1, "U", 10.0),
]


def test_bootstrap_handoff_is_bit_equal(spark, tmp_path):
    """Snapshot-first handoff (the Debezium/Flink bootstrap): materialize
    drop 0 alone, hand its UNFILTERED state off as the seed, stream only
    drops 1-2 — bit-equal to streaming the whole changelog, including
    n_ops and the watermark continuation."""
    from flink_kafka_table_api_spark.streaming.cdc_apply import (
        load_cdc_state,
    )

    full = stream_cdc_apply(
        spark, _chunked_ops(spark, BOOT_ROWS), str(tmp_path / "full"),
        n_chunks=3, delay="2 days",
    )
    want = sorted(tuple(r) for r in full.collect())

    first = str(tmp_path / "first")
    stream_cdc_apply(
        spark, _chunked_ops(spark, [r for r in BOOT_ROWS if r[0] == 0]),
        first, n_chunks=1, delay="2 days",
    )
    seed = load_cdc_state(spark, first)
    tail = [(c - 1, *rest) for c, *rest in BOOT_ROWS if c > 0]
    boot = stream_cdc_apply(
        spark, _chunked_ops(spark, tail), str(tmp_path / "boot"),
        n_chunks=2, delay="2 days", snapshot=seed,
    )
    got = sorted(tuple(r) for r in boot.collect())
    assert got == want
    # the tombstone-handoff key stayed deleted (op 18 lost to op 16),
    # and the late-but-admitted older op did not overwrite key 4
    keys = {t[0] for t in got}
    assert 7 not in keys
    assert next(t for t in got if t[0] == 4)[1] == 14  # last_op_id


def test_bootstrap_from_filtered_snapshot_is_wrong(spark, tmp_path):
    """Document WHY the seed must be unfiltered: seeding from the
    user-facing (tombstone-filtered) return resurrects key 7 via the
    late op 18 — the divergence load_cdc_state exists to prevent."""
    first = str(tmp_path / "firstf")
    filtered = stream_cdc_apply(
        spark, _chunked_ops(spark, [r for r in BOOT_ROWS if r[0] == 0]),
        first, n_chunks=1, delay="2 days",
    )
    tail = [(c - 1, *rest) for c, *rest in BOOT_ROWS if c > 0]
    boot = stream_cdc_apply(
        spark, _chunked_ops(spark, tail), str(tmp_path / "bootf"),
        n_chunks=2, delay="2 days", snapshot=filtered,
    )
    assert 7 in {r.key for r in boot.collect()}  # resurrected: the trap


def test_reset_refuses_a_pruned_merge_basis(spark, tmp_path, monkeypatch):
    """KEEP_VERSIONS=1 leaves only the last state version; resetting to
    a batch whose predecessor version was pruned must fail loudly (the
    silent alternative rebases the tail's merge on nothing), while a
    full reset_from(0) stays valid and reproduces the original."""
    from flink_kafka_table_api_spark.streaming.reprocess import reset_from

    state = str(tmp_path / "pruned")
    monkeypatch.setattr(batch_commit, "KEEP_VERSIONS", 1)
    out = stream_cdc_apply(
        spark, _chunked_ops(spark, BOOT_ROWS), state,
        n_chunks=3, delay="2 days",
    )
    want = sorted(tuple(r) for r in out.collect())
    assert sorted(os.listdir(os.path.join(state, "state"))) == ["batch-2"]
    with pytest.raises(ValueError, match="pruned by the version tail"):
        reset_from(state, 2)
    reset_from(state, 0)
    out2 = stream_cdc_apply(
        spark, _chunked_ops(spark, BOOT_ROWS), state,
        n_chunks=3, delay="2 days",
    )
    assert sorted(tuple(r) for r in out2.collect()) == want
