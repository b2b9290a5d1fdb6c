"""Streaming quantile monitor: mergeable histogram state -> per-batch
rank statistics.

`streaming/profile_monitor.py` tracks counts/nulls/ranges/distincts;
the monitoring signal it cannot answer is a RANK statistic — "did p99
document length drift this batch?" — the number a data-quality pager
actually fires on. Production systems track streaming quantiles with
mergeable sketches (t-digest, KLL); their split/merge internals are
engine- and seed-specific, so a cross-engine full-value oracle is
impossible. The deterministic alternative with the same state shape and
merge algebra is a FIXED-BIN histogram: counts are exactly mergeable
(addition), the quantile read is integer rank selection over the
cumulative histogram, and the accuracy contract is explicit — the
reported quantile is the lower edge of the selected bin, correct to one
bin width (which is also emitted, so the consumer knows the error bar).

  per micro-batch k (foreachBatch, batch_commit protocol):
    1. CALIBRATE (batch 0 only): [lo, hi] = the first drop's min/max;
       bin width w = (hi - lo) / n_bins, carried in the offsets json.
       Later values OUTSIDE the calibrated range clamp into the edge
       bins — the standing fixed-sketch trade (a t-digest re-centers,
       a fixed histogram saturates; the clamp counts are visible in the
       edge bins, and the monitor's job is drift DETECTION, which
       saturation screams about);
    2. PARTIAL:  per-bin counts of the batch — ONE map-side-combined
       aggregate of bin = clamp(floor((v - lo) / w), 0, n_bins - 1);
       floor of an IEEE division of identical doubles is engine-exact
       (no transcendental enters — the burst_detection class does not
       arise);
    3. MERGE:    carried histogram + partial, union + sum per bin —
       n_bins rows of state, the same fold shape every sibling uses;
    4. EMIT:     for each q in `quantiles`: target rank ceil(q * n),
       selected bin = first bin whose cumulative count reaches it;
       one row (batch_id, q, n_seen, bin_idx, q_lo = lo + bin * w,
       bin_width) per quantile per batch — the monitor's time series;
    5. PUBLISH hist/batch-k + out/batch-k + offsets/batch-k.json.

At 100 TB: state is n_bins longs regardless of stream age; the
per-batch work is one narrow scan into a 64-cell aggregate; the merge
shuffles bins, not rows. This is the profile_monitor posture with rank
reads.

DuckDB oracle: `stream_quantile_monitor_sql` (queries.py) replays the
calibration, binning, cumulative selection, and emission exactly —
every arithmetic step is IEEE add/sub/mul/div/floor on identical
inputs, so the oracle is full-value with NO tolerance needed.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.streaming.chunk_stats import (
    ChunkStats,
    stat_range,
)
from flink_kafka_table_api_spark.streaming.batch_commit import (
    BatchCommit,
    Publish,
    batch_dir,
    overwrite,
    overwrite_arrow,
    read_arrow,
    read_version,
)
from flink_kafka_table_api_spark.streaming.late_data import stage_chunked_by

_HIST_SCHEMA = "bin int, n long"
_OUT_SCHEMA = (
    "batch_id long, q double, n_seen long, bin_idx int, q_lo double, "
    "bin_width double"
)


def stream_quantile_monitor(
    spark: SparkSession,
    rows_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    n_bins: int = 64,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    value_col: str = "value",
    chunk_col: str = "__chunk",
) -> DataFrame:
    """Monitor rank statistics of `value_col` over `n_chunks` drops:
    per batch, fold the drop into the carried fixed-bin histogram and
    emit (batch_id, q, n_seen, bin_idx, q_lo, bin_width) per requested
    quantile. Deterministic given the drop boundaries."""
    src = stage_chunked_by(
        rows_chunked.select(
            F.col(value_col).cast("double").alias("value"),
            F.col(chunk_col).alias("__chunk"),
        ),
        os.path.join(state_dir, "src"),
        chunk_col=chunk_col, n_chunks=n_chunks, columns=["value"],
    )
    ckpt = os.path.join(state_dir, "ckpt")
    # calibration min/max per chunk file in ONE staging-time job
    # (chunk_stats.py; guide §1.2) — batch 0's [lo, hi] comes from its
    # files' stats instead of a dedicated aggregate job
    stats = ChunkStats(
        spark, src, "value double",
        {"lo": F.min("value"), "hi": F.max("value")},
    )
    # per-file bin counts need [lo, w], which exists only after batch 0
    # calibrates — computed lazily in ONE job for ALL files, after which
    # every batch's fold is pure driver arithmetic over n_bins longs
    binned: dict[str, ChunkStats] = {}
    out_dir = os.path.join(state_dir, "out")
    hist_dir = os.path.join(state_dir, "hist")
    commit = BatchCommit(
        state_dir, scoped=(out_dir, hist_dir), versioned=(hist_dir,),
        meta_dir=os.path.join(state_dir, "offsets"),
    )

    def _hist_cells_after(batch_id: int) -> dict[int, int]:
        """Driver-side histogram state read (n_bins longs, no Spark
        job); reads Spark-written state from older runs too."""
        cells: dict[int, int] = {}
        for t in read_arrow(batch_dir(hist_dir, batch_id), ["bin", "n"]):
            for b, n in zip(t["bin"].to_pylist(), t["n"].to_pylist()):
                cells[b] = cells.get(b, 0) + n
        return cells

    def _bin_col(lo: float, w: float):
        return F.least(
            F.greatest(
                F.floor((F.col("value") - F.lit(lo)) / F.lit(w)),
                F.lit(0),
            ),
            F.lit(n_bins - 1),
        ).cast("int")

    def _emit(
        batch_id: int, meta: dict, cells: list, hist_write: Callable,
        release: tuple = (),
    ) -> Publish:
        """Shared tail of both paths: rank selection, the |quantiles|-row
        Arrow emission, published with the histogram state and meta."""
        import pyarrow as pa

        lo, w = meta["lo"], meta["w"]
        n_seen = sum(n for _, n in cells)
        rows = []
        # empty-input agreement: a batch with zero
        # cumulative values has no rank statistic — emit nothing, as
        # the oracle's per-batch GROUP BY produces no rows either
        for q in quantiles if n_seen else ():
            target = max(1, math.ceil(q * n_seen))
            cum, sel = 0, (n_bins - 1)
            for b, n in cells:
                cum += n
                if cum >= target:
                    sel = b
                    break
            rows.append((
                batch_id, float(q), n_seen, int(sel),
                lo + sel * w, float(w),
            ))
        tbl = pa.table({
            "batch_id": pa.array([r[0] for r in rows], pa.int64()),
            "q": pa.array([r[1] for r in rows], pa.float64()),
            "n_seen": pa.array([r[2] for r in rows], pa.int64()),
            "bin_idx": pa.array([r[3] for r in rows], pa.int32()),
            "q_lo": pa.array([r[4] for r in rows], pa.float64()),
            "bin_width": pa.array([r[5] for r in rows], pa.float64()),
        })
        return Publish(
            [overwrite_arrow(tbl, batch_dir(out_dir, batch_id)), hist_write],
            meta=meta, release=release,
        )

    def process(batch: DataFrame, batch_id: int) -> Publish:
        meta = commit.meta(batch_id - 1, None)
        srows = stats.for_batch(ckpt, batch_id)
        if srows is not None:
            # fully driver-side batch: calibrate from the sidecar,
            # fold precomputed per-file bin counts into the carried
            # n_bins-long state, publish via Arrow — zero Spark jobs
            # after the one-time bin-count job
            if meta is None:
                lo_v, hi_v = stat_range(srows, "lo", "hi")
                lo = float(lo_v) if lo_v is not None else 0.0
                hi = float(hi_v) if hi_v is not None else 1.0
                w = (hi - lo) / n_bins if hi > lo else 1.0
                meta = {"lo": lo, "hi": hi, "w": w}
            if "cs" not in binned:
                binned["cs"] = ChunkStats(
                    spark, src, "value double",
                    {"n": F.count("*").cast("long")},
                    keys=(_bin_col(meta["lo"], meta["w"]).alias("bin"),),
                )
            brows = binned["cs"].for_batch(ckpt, batch_id)
            if brows is not None:
                import pyarrow as pa

                merged_cells = _hist_cells_after(batch_id - 1)
                for r in brows:
                    b = r["bin"]
                    merged_cells[b] = merged_cells.get(b, 0) + r["n"]
                cells = sorted(merged_cells.items())
                # histogram state is n_bins longs: published driver-side
                # too (typed exactly as the Spark write: bin int32, n int64)
                return _emit(batch_id, meta, cells, overwrite_arrow(
                    pa.table({
                        "bin": pa.array([b for b, _ in cells], pa.int32()),
                        "n": pa.array([n for _, n in cells], pa.int64()),
                    }),
                    batch_dir(hist_dir, batch_id),
                ))
        # fallback: the original in-batch Spark path (unresolvable files)
        if meta is None:
            mm = batch.agg(
                F.min("value").alias("lo"), F.max("value").alias("hi")
            ).first()
            lo = float(mm["lo"]) if mm["lo"] is not None else 0.0
            hi = float(mm["hi"]) if mm["hi"] is not None else 1.0
            w = (hi - lo) / n_bins if hi > lo else 1.0
            meta = {"lo": lo, "hi": hi, "w": w}
        partial = batch.select(
            _bin_col(meta["lo"], meta["w"]).alias("bin")
        ).groupBy("bin").agg(F.count("*").cast("long").alias("n"))
        merged = (
            read_version(spark, hist_dir, batch_id - 1, _HIST_SCHEMA)
            .unionByName(partial)
            .groupBy("bin").agg(F.sum("n").cast("long").alias("n"))
        ).persist()
        # bounded state: n_bins rows — the quantile read is driver-side
        # integer selection over a 64-cell list (documented bounded
        # collect, the quota.py precedent)
        cells = sorted((r["bin"], r["n"]) for r in merged.collect())
        return _emit(
            batch_id, meta, cells,
            overwrite(merged, batch_dir(hist_dir, batch_id)),
            release=(merged,),
        )

    return commit.drain(
        spark, src, "value double", process, out_dir, _OUT_SCHEMA
    )
