"""Out-of-order incremental curation: the `stream_curation` pipeline
generalized to crawl drops whose contents are NOT in doc-id order, as
real crawl drops are not.

`stream_curate_pack` (curation_pipeline.py) assumes drops arrive in id
order, so keep-FIRST-ARRIVAL equals keep-SMALLEST-ID and packing can
emit every batch immediately. Out of order, both break: a smaller-id
near-dup arriving later should have won, and packing (seq_id = pure
function of the id-ordered cumulative token sum) cannot emit a doc
while a smaller id can still arrive. This module fixes both with a
WATERMARK over doc_id (the event-time proxy: smaller id = older doc),
kept by the shared late_data.EventClock with an integer delay:

  per micro-batch k (foreachBatch):
    1. ADMIT:    rows with doc_id >  W_{k-1} (the stored watermark);
                 rows at or below it are too-late — their finalization
                 horizon has passed — and are dropped DETERMINISTICALLY
                 (an auditable function of drop boundaries, exactly the
                 Spark windowed-agg contract stream_late_events pins);
    2. DEDUP:    IncrementalDedup over the admitted rows (bucket-join vs
                 the accumulated index, capped, batch-scoped state);
    3. ADVANCE:  W_k = max(doc_id SEEN through batch k) - delay — seen,
                 not admitted: dropped rows still advance the watermark,
                 matching Spark (stats upstream of the filter);
    4. FINALIZE: the admitted docs with W_{k-1} < doc_id <= W_k. No
                 future admitted doc can have a smaller id than any of
                 these (future admission requires id > W_k), so their
                 keep/drop status is now immutable. The buffer IS the
                 dedup doc store — no second mutable state table;
    5. KEEP:     drop every finalized doc that is the LARGER side of any
                 verified near-dup pair accumulated so far (keep-
                 smallest-id, not keep-first-arrival — the single-pass
                 semantics restored under reordering);
    6. PACK:     quality-gate the kept docs and pack them in id order
                 from the carried token offset. Finalization intervals
                 (W_{k-1}, W_k] are disjoint and increasing, so the
                 global pack order IS doc-id order: seq_id comes out
                 identical to one full pass over the final kept set.

Why step 5 is sound: a pair (x, y), y < x, can only drop x. For x
finalized at batch k, y must have been admitted at some batch <= k
(admission after k would require y > W_k >= x > y); IncrementalDedup
runs on admission, so the pair is in the accumulated matches when x
finalizes. Docs above the terminal watermark stay buffered (in state,
unpacked) — exactly like unemitted streaming windows; a longer-running
stream finalizes them on the next drop.

Crash safety: the batch_commit protocol, as in curation_pipeline.py —
packed/batch-N, offsets/batch-N.json carrying {token_total, watermark,
max_seen} and the nested dedup state are all batch-scoped.

At 100 TB: admission/finalization are O(batch) id comparisons against
two scalars; the only joins are the dedup bucket-join (capped) and the
finalize-ids x matches anti-join (matches restricted to the finalize
window). State is the dedup index + the buffered tail (docs inside the
lateness horizon) — bounded by horizon width, not corpus age.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Observation

from flink_kafka_table_api_spark.operators.curation import pack_sequences
from flink_kafka_table_api_spark.operators.text import quality_score_col
from flink_kafka_table_api_spark.streaming.batch_commit import (
    BatchCommit,
    Publish,
    batch_dir,
    overwrite,
)
from flink_kafka_table_api_spark.streaming.incremental_dedup import (
    IncrementalDedup,
)
from flink_kafka_table_api_spark.streaming.chunk_stats import stat_min
from flink_kafka_table_api_spark.streaming.late_data import (
    EventClock,
    stage_chunked_by,
)


def stream_curate_pack_ooo(
    spark: SparkSession,
    docs_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    delay: int,
    chunk_col: str = "__chunk",
    threshold: float = 0.5,
    quality_threshold: float = 0.5,
    budget: int = 256,
    portable: bool = True,
) -> DataFrame:
    """Run the watermarked out-of-order curation pipeline over
    `docs_chunked` (doc_id, text, `chunk_col`) staged as `n_chunks`
    micro-batch drops; return the packed sink (doc_id, n_tokens,
    seq_id) for every doc finalized by the terminal watermark —
    bit-identical to one batch pass over the watermark-admitted subset
    (the DuckDB oracle in queries.py replays exactly that)."""
    src = stage_chunked_by(
        docs_chunked, os.path.join(state_dir, "src"),
        chunk_col=chunk_col, n_chunks=n_chunks,
        columns=["doc_id", "text"],
    )
    sink = os.path.join(state_dir, "packed")
    commit = BatchCommit(
        state_dir, scoped=(sink,), meta_dir=os.path.join(state_dir, "offsets")
    )
    # pack-bounds minima ride the clock's staging job
    clock = EventClock(
        spark, commit, src, "doc_id long, text string", "doc_id", delay,
        aggs={"mn": F.min("doc_id")},
    )
    # smallest id across the whole staged drop set: a valid lower COVER
    # for any finalized interval (used when no previous watermark exists)
    all_rows = [r for rows in clock.stats.by_file.values() for r in rows]
    global_min = stat_min(all_rows, "mn")
    inc = IncrementalDedup(
        os.path.join(state_dir, "dedup"),
        threshold=threshold, portable=portable,
    )

    def process(batch: DataFrame, batch_id: int) -> Publish:
        token_total = commit.meta(batch_id - 1, {"token_total": 0})[
            "token_total"
        ]
        batch = batch.select("doc_id", "text")
        # 1) admit (too-late rows, id at/below W_{k-1}, drop here) and
        # 3) advance W from everything SEEN — the Spark contract
        t = clock.tick(batch, batch_id)
        wm_prev, new_wm = t.prev, t.watermark
        # 2) dedup the admitted rows against the accumulated index
        inc.process_batch(t.admitted, batch_id)
        # 4) finalize the id interval this watermark advance closed; the
        #    buffer is the dedup doc store (admitted docs, batch-scoped)
        store = inc._read_parts(spark, inc.docs_path, batch)
        fin = store.filter(F.col("doc_id") <= new_wm)
        if wm_prev is not None:
            fin = fin.filter(F.col("doc_id") > wm_prev)
        # 5) keep-smallest-id: drop finalized docs that are the LARGER
        #    side of any verified pair accumulated so far. Restricting
        #    the matches side to the finalize interval FIRST keeps the
        #    anti-join's build side O(finalized-window pairs) — without
        #    it the side grows with corpus age, the one cost a
        #    long-running stream cannot pay
        dropped = (
            inc.matches(spark)
            .select(F.greatest("a", "b").alias("doc_id"))
            .filter(F.col("doc_id") <= new_wm)
        )
        if wm_prev is not None:
            dropped = dropped.filter(F.col("doc_id") > wm_prev)
        # no forced broadcast: one interval's drop side is usually tiny
        # (AQE broadcasts it), but a pathological drop could be large —
        # let the optimizer pick
        # quality gate as ONE filter column over the anti-join output —
        # the earlier feature-frame + self-join shape re-executed the
        # kept pipeline twice per batch for the same rows (identical
        # score expression, identical rounding); persist: kept feeds
        # pack_sequences' id-bounds aggregate AND the packed layout
        # no .distinct() on the anti-join's right side: the anti-join's
        # build relation dedups keys anyway — the explicit exchange was
        # one more per-batch stage for nothing
        kept = (
            fin.join(dropped, "doc_id", "left_anti")
            .filter(quality_score_col("text") >= quality_threshold)
            .persist()
        )
        # 6) pack from the carried offset; intervals are disjoint and
        #    increasing, so the global layout is id-ordered. The token
        #    total rides the write as an observed metric — same value
        #    the separate agg job computed, one less job per batch.
        # pack bounds: kept lives in the finalized interval
        # (wm_prev, new_wm] — a known COVER, so pack_sequences skips its
        # per-batch min/max aggregate job (bucket bounds never reach the
        # output; see pack_sequences). With no previous watermark the
        # interval's floor is the drop set's global minimum id.
        lo_cover = (
            int(wm_prev) + 1 if wm_prev is not None else global_min
        )
        bounds = (
            (int(lo_cover), int(new_wm))
            if new_wm is not None and lo_cover is not None
            else None
        )
        packed = pack_sequences(
            kept, budget=budget, start_offset=token_total,
            id_bounds=bounds,
        )
        obs = Observation()
        return Publish(
            [overwrite(packed.observe(obs, F.sum("n_tokens").alias("t")),
                       batch_dir(sink, batch_id))],
            meta=lambda: {
                "token_total": int(token_total + (obs.get["t"] or 0)),
                **t.meta,
            },
            release=[kept],
        )

    return commit.drain(
        spark, src, "doc_id long, text string", process,
        out=sink, out_schema="doc_id long, n_tokens long, seq_id long",
    )
