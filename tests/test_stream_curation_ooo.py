"""Out-of-order incremental curation (`stream_curation_ooo`, round 8):
watermarked admission over doc-id, keep-SMALLEST-ID finalization, and
id-ordered packing under out-of-order drops — checked bit-for-bit
against the single-pass DuckDB replay and on hand-built fixtures where
arrival order and id order disagree."""

from __future__ import annotations

import json
import os
import shutil

import duckdb
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.queries import (
    ORACLES,
    QUERIES,
    _admitted_sql,
    _doc_prm_sql,
    _doc_tercile_sql,
    _late_drop_sql,
)
from flink_kafka_table_api_spark.streaming.ooo_curation import (
    stream_curate_pack_ooo,
)

SF = "/root/testdata/sf0.001"

DOC = ("the quick brown fox jumps over the lazy dog again and again "
       "while the cat watches quietly from the warm windowsill nearby "
       "and the evening settles in for the night across the town")


def _chunked(spark, rows):
    return spark.createDataFrame(
        rows, "c int, doc_id long, text string"
    ).select("doc_id", "text", F.col("c").alias("__chunk"))


def test_oracle_parity_on_testdata(spark):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    df = QUERIES["stream_curation_ooo"](spark, SF)
    got = sorted(tuple(r) for r in df.collect())
    exp = sorted(
        tuple(r)
        for r in con.execute(ORACLES["stream_curation_ooo"]).fetchall()
    )
    assert len(got) == len(exp) > 0
    assert got == exp
    # the staged lateness has a live signal on the shipped corpus: some
    # two-drops-late docs fall below the admission watermark, and some
    # one-drop-late docs land inside it
    nat = _doc_tercile_sql("d.doc_id")
    excluded, late_admitted = con.execute(f"""
      WITH {_doc_prm_sql()},
      chun AS (
        SELECT d.doc_id, {nat} AS nat,
               {_late_drop_sql(nat, "d.doc_id")} AS chunk
        FROM documents d, prm
      ),
      {_admitted_sql("adm", "chun", "(SELECT GREATEST(1, w // 4) FROM prm)",
                     ts="doc_id", floor="-1")}
      SELECT (SELECT COUNT(*) FROM chun) - (SELECT COUNT(*) FROM adm),
             (SELECT COUNT(*) FROM adm WHERE chunk > nat)
    """).fetchone()
    assert excluded > 0, "no late doc crossed the admission watermark"
    assert late_admitted > 0, "no late doc was admitted"


def test_keep_smallest_id_beats_arrival_order(spark, tmp_path):
    """A smaller-id near-dup arriving AFTER its larger-id twin must still
    win: the in-order pipeline's keep-first-ARRIVAL would keep doc 10;
    the watermarked finalization keeps doc 3 and drops doc 10."""
    rows = [
        (0, 10, DOC),
        (1, 3, DOC.replace("quietly", "loudly")),  # older doc, arrives late
        (2, 100, "entirely different vocabulary zebra quartz fjord glyph "
                 "vex jumbo wharf sphinx quack nymph blitz vodka"),
    ]
    out = stream_curate_pack_ooo(
        spark, _chunked(spark, rows), str(tmp_path / "s1"),
        n_chunks=3, delay=8, quality_threshold=0.0, threshold=0.4,
    )
    got = {r.doc_id for r in out.collect()}
    # terminal watermark = 100 - 8 = 92: docs 3 and 10 finalized, 100
    # still buffered; the duplicate pair (3, 10) drops the LARGER id
    assert got == {3}


def test_too_late_doc_is_dropped_deterministically(spark, tmp_path):
    """A doc arriving at/below the admission watermark is excluded even
    if unique — the deterministic late-drop contract."""
    rows = [
        (0, 50, DOC),
        (1, 5, "unique text that would have been kept had it arrived "
               "inside the watermark horizon of the pipeline"),
        (1, 60, "another unique document with its own words entirely "
                "fresh vocabulary nothing shared with the rest"),
        (2, 200, "terminal chunk pushing the watermark forward far "
                 "enough to finalize everything admitted before"),
    ]
    out = stream_curate_pack_ooo(
        spark, _chunked(spark, rows), str(tmp_path / "s2"),
        n_chunks=3, delay=5, quality_threshold=0.0, threshold=0.9,
    )
    got = {r.doc_id for r in out.collect()}
    # wm after batch 0 = 45: doc 5 is below it -> dropped; doc 60
    # admitted; terminal wm = 195 finalizes 50 and 60, 200 buffered
    assert got == {50, 60}


def test_crash_replay_is_clean(spark, tmp_path):
    """Kill the job after the last batch's dedup publish but before its
    sink/offset/marker publish: the replay recomputes the batch and
    converges to the identical packed layout (the curation_pipeline
    crash contract, inherited verbatim)."""
    rows = [
        (0, 10, DOC),
        (1, 3, DOC.replace("quietly", "loudly")),
        (2, 100, "entirely different vocabulary zebra quartz fjord glyph "
                 "vex jumbo wharf sphinx quack nymph blitz vodka"),
    ]
    state = str(tmp_path / "s3")
    out = stream_curate_pack_ooo(
        spark, _chunked(spark, rows), state,
        n_chunks=3, delay=8, quality_threshold=0.0, threshold=0.4,
    )
    want = sorted(tuple(r) for r in out.collect())
    os.remove(os.path.join(state, "commits", "batch-2"))
    os.remove(os.path.join(state, "offsets", "batch-2.json"))
    shutil.rmtree(os.path.join(state, "packed", "batch-2"),
                  ignore_errors=True)
    shutil.rmtree(os.path.join(state, "ckpt"))
    out2 = stream_curate_pack_ooo(
        spark, _chunked(spark, rows), state,
        n_chunks=3, delay=8, quality_threshold=0.0, threshold=0.4,
    )
    got = sorted(tuple(r) for r in out2.collect())
    assert got == want
    assert len({r[0] for r in got}) == len(got)  # no duplicated sink rows


def test_offsets_carry_watermark_and_tokens(spark, tmp_path):
    rows = [
        (0, 50, DOC),
        (1, 60, "another unique document with its own words entirely "
                "fresh vocabulary nothing shared with the rest"),
        (2, 200, "terminal chunk pushing the watermark forward far "
                 "enough to finalize everything admitted before"),
    ]
    state = str(tmp_path / "s4")
    out = stream_curate_pack_ooo(
        spark, _chunked(spark, rows), state,
        n_chunks=3, delay=5, quality_threshold=0.0, threshold=0.9,
    )
    total = sum(r.n_tokens for r in out.collect())
    metas = [
        json.load(open(os.path.join(state, "offsets", f"batch-{i}.json")))
        for i in range(3)
    ]
    assert [m["watermark"] for m in metas] == [45, 55, 195]
    assert [m["max_seen"] for m in metas] == [50, 60, 200]
    # monotone token totals ending at the packed sum (doc 200 buffered)
    assert metas[-1]["token_total"] == total
    assert metas[0]["token_total"] <= metas[1]["token_total"] <= total
