"""Streaming SCD2 history maintenance (`streaming/scd2_stream.py`,
built round 8, registration-bound for round 9/10): the CDC changelog's
full TYPE-2 history — one row per admitted upsert with
[effective_from, effective_to) validity — maintained incrementally as
per-batch deltas with last-writer-wins reads. Pre-validated here
against a DuckDB replay of admission + LEAD-window chaining, plus
hand-built fixtures for the semantics that matter: deletes closing
intervals, re-insert after delete, late-but-admitted ops splicing into
the MIDDLE of a chain, too-late ops dropped, crash replay, delta
incrementality (untouched buckets not rewritten), and compaction
equivalence (shadow-then-delete)."""

from __future__ import annotations

import os
import shutil

import duckdb
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.catalog import read_table
from flink_kafka_table_api_spark.queries import (
    QUERIES,
    _changelog_ops,
    stream_scd2_sql as scd2_oracle,
)
from flink_kafka_table_api_spark.streaming.scd2_stream import stream_scd2

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


FIXTURE = [
    # drop 0
    (0, 10, "2024-01-09 10:00:00", 1, "U", 1.0),
    (0, 11, "2024-01-09 11:00:00", 1, "U", 2.0),
    (0, 12, "2024-01-09 10:00:00", 2, "U", 3.0),
    (0, 13, "2024-01-09 11:00:00", 2, "D", 0.0),
    (0, 16, "2024-01-09 12:00:00", 4, "U", 5.0),
    # drop 1 (watermark = 01-09 12:00 - 2 days = 01-07 12:00)
    (1, 17, "2024-01-09 09:00:00", 4, "U", 6.0),  # late, admitted, OLDER
    (1, 18, "2024-01-05 00:00:00", 5, "U", 7.0),  # too late: dropped
    (1, 19, "2024-01-09 13:00:00", 2, "U", 9.0),  # re-insert after delete
    # drop 2
    (2, 20, "2024-01-09 14:00:00", 1, "D", 0.0),  # closes key 1
    (2, 21, "2024-01-09 15:00:00", 6, "U", 10.0),
]

# (key, op_id, value, from, to, is_current) — hand-derived
EXPECTED = sorted([
    (1, 10, 1.0, "2024-01-09 10:00:00", "2024-01-09 11:00:00", False),
    (1, 11, 2.0, "2024-01-09 11:00:00", "2024-01-09 14:00:00", False),
    (2, 12, 3.0, "2024-01-09 10:00:00", "2024-01-09 11:00:00", False),
    (2, 19, 9.0, "2024-01-09 13:00:00", None, True),
    (4, 17, 6.0, "2024-01-09 09:00:00", "2024-01-09 12:00:00", False),
    (4, 16, 5.0, "2024-01-09 12:00:00", None, True),
    (6, 21, 10.0, "2024-01-09 15:00:00", None, True),
])


def _got(out):
    return sorted(
        (r.key, r.op_id, r.value,
         r.effective_from.strftime("%Y-%m-%d %H:%M:%S"),
         None if r.effective_to is None
         else r.effective_to.strftime("%Y-%m-%d %H:%M:%S"),
         r.is_current)
        for r in out.collect()
    )


def test_scd2_semantics(spark, tmp_path):
    """Interval chains, delete-closes, re-insert, mid-chain late splice
    (key 4's older op must open BEFORE the already-stored newer op),
    too-late drop — all against a hand-derived expected history."""
    out = stream_scd2(
        spark, _chunked_ops(spark, FIXTURE), str(tmp_path / "s1"),
        n_chunks=3, delay="2 days",
    )
    assert _got(out) == EXPECTED


def test_deltas_are_incremental(spark, tmp_path):
    """Batch k's delta contains ONLY the keys it touched: batch 2
    touched keys 1 and 6, so its delta must not contain key 4's rows
    (they live in batch 1's delta) — the property that makes per-batch
    write cost O(affected history), not O(corpus)."""
    state = str(tmp_path / "s2")
    stream_scd2(
        spark, _chunked_ops(spark, FIXTURE), state,
        n_chunks=3, delay="2 days",
    )
    hist = os.path.join(state, "hist")
    assert sorted(os.listdir(hist)) == ["batch_id=0", "batch_id=1", "batch_id=2"]
    d2 = spark.read.parquet(os.path.join(hist, "batch_id=2"))
    assert sorted(r[0] for r in d2.select("key").distinct().collect()) \
        == [1, 6]


def test_crash_replay_is_clean(spark, tmp_path):
    state = str(tmp_path / "s3")
    out = stream_scd2(
        spark, _chunked_ops(spark, FIXTURE), state,
        n_chunks=3, delay="2 days",
    )
    want = _got(out)
    # crash between batch 2's delta publish and its marker
    os.remove(os.path.join(state, "commits", "batch-2"))
    os.remove(os.path.join(state, "offsets", "batch-2.json"))
    shutil.rmtree(os.path.join(state, "ckpt"))
    out2 = stream_scd2(
        spark, _chunked_ops(spark, FIXTURE), state,
        n_chunks=3, delay="2 days",
    )
    assert _got(out2) == want


def test_compaction_is_equivalent_and_bounds_the_chain(spark, tmp_path):
    """compact_every=2 must (a) leave the SAME final history and
    (b) delete shadowed deltas: after compaction at batch 1, only
    b=1 (snapshot) and b=2 (delta) survive."""
    state = str(tmp_path / "s4")
    out = stream_scd2(
        spark, _chunked_ops(spark, FIXTURE), state,
        n_chunks=3, delay="2 days", compact_every=2,
    )
    assert _got(out) == EXPECTED
    hist = os.path.join(state, "hist")
    assert sorted(os.listdir(hist)) == ["batch_id=1", "batch_id=2"]
    # the snapshot really carries the untouched keys: key 1's drop-0
    # rows live in batch_id=1 after compaction
    d1 = spark.read.parquet(os.path.join(hist, "batch_id=1"))
    assert {r[0] for r in d1.select("key").distinct().collect()} \
        >= {1, 2, 4}


def test_oracle_parity_on_testdata(spark):
    out = QUERIES["stream_scd2"](spark, SF)
    got = sorted(tuple(str(x) for x in r) for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    exp = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(scd2_oracle()).fetchall()
    )
    assert len(got) == len(exp) > 0
    assert got == exp
    # live signals: some key has >1 version (real history, not a
    # snapshot), and some interval was closed by a delete (an op_id
    # gap at the closing boundary)
    multi = [k for k in {t[0] for t in got}
             if sum(1 for t in got if t[0] == k) > 1]
    assert multi
    assert any(t[5] == "False" for t in got)
    assert any(t[5] == "True" for t in got)


def test_selective_reprocessing(spark, tmp_path):
    """reset_scd2_from follows the shared reprocess convention: reset
    from drop 2, re-run, identical history with batches 0-1's published
    files untouched byte-for-byte (mtime-pinned). A reset targeting a
    batch at or before the oldest surviving delta on a COMPACTED store
    is rejected (it would delete the snapshot the shadowed batches were
    folded into); reset from 0 is a valid full recompute."""
    from flink_kafka_table_api_spark.streaming.scd2_stream import (
        reset_scd2_from,
    )

    state = str(tmp_path / "s6")
    out = stream_scd2(
        spark, _chunked_ops(spark, FIXTURE), state,
        n_chunks=3, delay="2 days",
    )
    want = _got(out)
    hist = os.path.join(state, "hist")

    def mtimes(b):
        d = os.path.join(hist, f"batch_id={b}")
        return {
            os.path.relpath(p, d): os.path.getmtime(os.path.join(r, f))
            for r, _, fs in os.walk(d) for f in fs
            for p in [os.path.join(r, f)]
        }

    before = {b: mtimes(b) for b in (0, 1)}
    removed = reset_scd2_from(state, 2)
    assert removed["markers"] == 1 and removed["partitions"] == 1
    out2 = stream_scd2(
        spark, _chunked_ops(spark, FIXTURE), state,
        n_chunks=3, delay="2 days",
    )
    assert _got(out2) == want
    assert {b: mtimes(b) for b in (0, 1)} == before

    # compacted store: floor is the snapshot at batch 1
    state2 = str(tmp_path / "s7")
    stream_scd2(
        spark, _chunked_ops(spark, FIXTURE), state2,
        n_chunks=3, delay="2 days", compact_every=2,
    )
    try:
        reset_scd2_from(state2, 1)
        raise AssertionError("reset into the compacted range must fail")
    except ValueError:
        pass
    reset_scd2_from(state2, 2)
    out3 = stream_scd2(
        spark, _chunked_ops(spark, FIXTURE), state2,
        n_chunks=3, delay="2 days", compact_every=2,
    )
    assert _got(out3) == want
    # full recompute from 0 is always valid
    reset_scd2_from(state2, 0)
    out4 = stream_scd2(
        spark, _chunked_ops(spark, FIXTURE), state2,
        n_chunks=3, delay="2 days", compact_every=2,
    )
    assert _got(out4) == want


def test_prior_read_is_partition_pruned(spark, tmp_path):
    """The per-batch PRIOR read must prune the history scan to the
    batch's key-buckets: a filter on __kb (a partition directory) shows
    up as a PartitionFilter on the scan, reading a strict subset of the
    store's partitions — the property that keeps per-batch read cost
    O(touched buckets), not O(store)."""
    from flink_kafka_table_api_spark.streaming.scd2_stream import (
        HIST_SCHEMA,
    )

    state = str(tmp_path / "s8")
    stream_scd2(
        spark, _chunked_ops(spark, FIXTURE), state,
        n_chunks=3, delay="2 days",
    )
    hist = os.path.join(state, "hist")
    dirs = [os.path.join(hist, d) for d in os.listdir(hist)
            if d.startswith("batch_id=")]
    df = (
        spark.read.schema(HIST_SCHEMA + ", batch_id int")
        .option("basePath", hist).parquet(*dirs)
        .filter(F.col("__kb").isin([3]))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan and "__kb" in scan[0].split("PartitionFilters")[1], plan


def test_scd2_lookup_point_in_time(spark, tmp_path):
    """FOR SYSTEM_TIME AS OF probe_ts against the maintained history:
    inclusive effective_from, exclusive effective_to, NULL before a
    key's first version / between a delete and a re-insert / after a
    closing delete / for unseen keys — and the mid-chain spliced late
    op (key 4's op 17) serves its own interval. The plan must stay a
    keyed join (equi on key + range residual), never a nested loop."""
    from flink_kafka_table_api_spark.streaming.scd2_stream import (
        scd2_lookup,
    )

    hist = stream_scd2(
        spark, _chunked_ops(spark, FIXTURE), str(tmp_path / "s9"),
        n_chunks=3, delay="2 days",
    )
    probes = spark.createDataFrame(
        [
            (100, 1, "2024-01-09 10:30:00"),
            (101, 1, "2024-01-09 11:00:00"),  # boundary: from inclusive
            (102, 1, "2024-01-09 14:00:00"),  # boundary: to exclusive
            (103, 1, "2024-01-09 09:00:00"),  # pre-history
            (104, 2, "2024-01-09 12:00:00"),  # delete..re-insert gap
            (105, 2, "2024-01-09 13:00:00"),
            (106, 4, "2024-01-09 09:30:00"),  # the spliced late op
            (107, 4, "2024-01-09 12:00:00"),
            (108, 9, "2024-01-09 12:00:00"),  # unseen key
            (109, 6, "2024-01-09 23:59:00"),  # open current interval
        ],
        "probe_id long, key long, probe_ts string",
    ).select("probe_id", "key", F.to_timestamp("probe_ts").alias("probe_ts"))
    out = scd2_lookup(hist, probes)
    got = {r.probe_id: (r.dim_value, r.version_op_id)
           for r in out.collect()}
    assert got == {
        100: (1.0, 10), 101: (2.0, 11), 102: (None, None),
        103: (None, None), 104: (None, None), 105: (9.0, 19),
        106: (6.0, 17), 107: (5.0, 16), 108: (None, None),
        109: (10.0, 21),
    }
    assert out.count() == 10  # at most one version per probe
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_binned_lookup_equals_plain_lookup(spark, tmp_path):
    """scd2_lookup's bin-based range join (the zipf-hot-key fix) is a
    pure execution-strategy change: binned and unbinned enrichment must
    return IDENTICAL rows on the maintained testdata history, for a bin
    much smaller, comparable to, and much larger than the typical
    version lifetime — including probes before the first version /
    after a delete (NULL rows survive the LEFT join through the bin
    explode)."""
    from flink_kafka_table_api_spark.streaming.scd2_stream import (
        scd2_lookup,
    )

    ev = read_table(spark, SF, "events")
    ops = _changelog_ops(ev, F.lit(0))
    hist = stream_scd2(
        spark, ops, str(tmp_path / "s9"), n_chunks=1, delay="2 days",
    ).select(
        "key", F.col("value"), F.col("op_id"),
        "effective_from", "effective_to",
    )
    probes = ev.select(
        F.col("event_id").alias("probe_id"),
        F.col("user_id").alias("key"),
        (F.col("ts").cast("timestamp")
         + F.expr("INTERVAL 17 MINUTES")).alias("probe_ts"),
    )
    def rows(bin_seconds):
        out = scd2_lookup(hist, probes, bin_seconds=bin_seconds).select(
            "probe_id", "dim_value", "version_op_id",
        )
        return sorted(tuple(str(x) for x in r) for r in out.collect())
    plain = rows(None)
    assert len(plain) == probes.count()  # at most one version each
    for bs in (3600, 86400, 30 * 86400):
        assert rows(bs) == plain, f"bin={bs}s diverged"
