"""Streaming per-source token quota (`streaming/quota.py`, built
round 8, registration-bound for round 9/10): first-come-first-served
admission in delivery order against a carried per-source consumed
counter. Pre-validated against the prefix-sum replay the registration
will use (`stream_source_quota_sql` in queries.py), plus fixtures for
the boundary-document spill-over, the cross-batch carry, and crash
replay."""

from __future__ import annotations

import os
import shutil

import duckdb
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.queries import (
    stream_source_quota_sql,
)
from flink_kafka_table_api_spark.streaming.quota import (
    load_consumed,
    stream_source_quota,
)


SF = "/root/testdata/sf0.001"

# (chunk, doc_id, source, text). Each word is one token (whitespace
# tokenizer): budget 5 => source a admits 1,2 and SPILLS on 3 (the
# boundary doc: tokens_before = 4 < 5, kept; doc 4 has before = 7,
# dropped); source b stays under budget across all three drops.
DOCS = [
    (0, 1, "a", "w w"),            # before 0 -> kept
    (0, 2, "a", "w w"),            # before 2 -> kept
    (1, 3, "a", "w w w"),          # before 4 < 5 -> kept (spill-over)
    (2, 4, "a", "w"),              # before 7 -> dropped
    (0, 5, "b", "w"),              # kept
    (1, 6, "b", "w w"),            # before 1 -> kept
    (2, 7, "b", "w"),              # before 3 -> kept
]


def _chunked(spark, rows):
    return spark.createDataFrame(
        rows, "c int, doc_id long, source string, text string",
    ).select("doc_id", "source", "text", F.col("c").alias("__chunk"))


def test_quota_semantics_fixture(spark, tmp_path):
    out = stream_source_quota(
        spark, _chunked(spark, DOCS), str(tmp_path / "q1"),
        n_chunks=3, budget=5,
    )
    got = {r.doc_id: (r.source, r.n_tokens) for r in out.collect()}
    assert got == {
        1: ("a", 2), 2: ("a", 2), 3: ("a", 3),
        5: ("b", 1), 6: ("b", 2), 7: ("b", 1),
    }
    consumed = {
        r.source: r.consumed
        for r in load_consumed(spark, str(tmp_path / "q1")).collect()
    }
    assert consumed == {"a": 8, "b": 4}  # tokens SEEN, not kept


def test_crash_replay_is_clean(spark, tmp_path):
    state = str(tmp_path / "q2")
    out = stream_source_quota(
        spark, _chunked(spark, DOCS), state, n_chunks=3, budget=5,
    )
    want = sorted(tuple(r) for r in out.collect())
    os.remove(os.path.join(state, "commits", "batch-2"))
    for d in ("kept", "consumed"):
        shutil.rmtree(os.path.join(state, d, "batch-2"))
    shutil.rmtree(os.path.join(state, "ckpt"))
    out2 = stream_source_quota(
        spark, _chunked(spark, DOCS), state, n_chunks=3, budget=5,
    )
    assert sorted(tuple(r) for r in out2.collect()) == want


def test_live_signal_on_testdata():
    """tests/test_oracle_parity.py pins the registered stream_source_quota to
    this oracle at sf0.001; the live signals are checked on the oracle's
    rows."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    # live signals: (a) the cap really bit (some doc dropped), and
    # (b) at least one source's boundary falls in drop 1 or 2 — the
    # carried counter across batch boundaries did the admission
    stats = con.execute(f"""
      WITH prm AS (
        SELECT MIN(doc_id) AS m0,
               CAST(CEIL((MAX(doc_id) - MIN(doc_id) + 1) / 3.0) AS BIGINT)
                 AS w
        FROM documents
      ),
      kept AS ({stream_source_quota_sql()}),
      last_kept AS (
        SELECT k.source, MAX(k.doc_id) AS last_id FROM kept k
        GROUP BY k.source
      )
      SELECT
        (SELECT COUNT(*) FROM documents)
          - (SELECT COUNT(*) FROM kept) AS n_dropped,
        (SELECT COUNT(*) FROM last_kept l, prm p
          WHERE LEAST((l.last_id - p.m0) // p.w, 2) >= 1) AS late_bounds
    """).fetchone()
    assert stats[0] > 0, "the cap never bit on this corpus"
    assert stats[1] > 0, "no source's admission crossed a batch boundary"
