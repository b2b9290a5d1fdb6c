"""Watermark-synchronized EVENT-TIME temporal join against the
SCD2-maintained versioned dimension.

Flink's event-time temporal join (`FOR SYSTEM_TIME AS OF p.event_time`
against a versioned table — public Table API surface; the reference
pipeline is the degenerate case whose dimension is a literal CASE
expression, TransactionProcessor.java's currency conversion) does NOT
enrich a probe the moment it arrives: it BUFFERS the probe until the
operator watermark — min(dim watermark, probe watermark) — passes the
probe's own timestamp, and only then emits it, joined to the dimension
version valid AT that timestamp. The buffering is what makes the result
correct under disorder: a dim version that arrives in a LATER batch but
carries an op_ts at or before the probe's timestamp (the mid-chain
splice stream_scd2 handles) is still seen by the probe, because the dim
watermark cannot have passed the probe's ts before that op was either
admitted or deterministically dropped.

`streaming/temporal_join.py` semantics="event" is the eager variant:
per-probe AS-OF argmax over the history accumulated so far, emitted in
the probe's own arrival batch. Same final value only when dim ops never
arrive late; this module is the Flink-faithful one.

Why the emitted value is FINAL (never retracted): the version of key K
at instant t is a pure function of the admitted ops with op_ts <= t.
Once W_dim >= t, every future op either has op_ts > W_dim >= t (cannot
affect instant t) or is dropped by admission. So emitting at
H_k = min(W_dim_k, W_probe_k) >= t is safe, and emitting any earlier is
not — that is the entire contract, and the splice test pins it.

  state layout (all per-batch, under the batch_commit protocol):
    hist/batch_id=k/__kb=N/   SCD2 delta store — stream_scd2's
                              apply_history_delta, verbatim
    pending/batch-k/          full snapshot of still-buffered probes
                              AFTER batch k (bounded: watermark lag x
                              arrival rate, never O(stream age))
    out/batch_id=k/           rows whose emission horizon was reached
                              at batch k
    offsets/batch-k.json      both sides' watermarks + max_seen, and
                              probe_kbs: the union of the probe files'
                              key buckets through batch k (None once a
                              batch's files did not resolve)

  per micro-batch k (foreachBatch, driven by the probe stream):
    1. SKIP/SCRUB (batch_commit);
    2. DIM: admit ops drop k (op_ts > W_dim_{k-1}), fold into the SCD2
       delta store;
    3. PROBE: admit probe drop k (probe_ts > W_probe_{k-1}; too-late
       probes dropped deterministically — Flink drops them too), union
       with pending_{k-1};
    4. ADVANCE both watermarks from rows SEEN (dropped rows advance
       them); H_k = min of the two (None on either side = no emission:
       an unseen side could still produce arbitrarily old data);
    5. EMIT buffered probes with probe_ts <= H_k: interval-containment
       join (scd2_lookup) against the latest-per-key history, the scan
       PRUNED to the emitting probes' __kb buckets; U-version matches
       enrich, deleted spans / unseen keys / before-first-version
       enrich NULL (LEFT semantics);
    6. PUBLISH out + new pending snapshot + offsets.

  end of input (availableNow termination): bounded-run flush — Flink's
  batch-mode end-of-input watermark is +inf, so every still-buffered
  probe emits against the FINAL history, tagged batch_id = n_chunks.

Determinism: admission and emission batches are pure functions of the
drop boundaries, and the emitted value per probe equals one batch pass
(admission replay + LEAD chaining + point-in-time join) — so the DuckDB
oracle checks values AND emission batch ids with no streaming machinery.

At 100 TB: per batch — dim fold is O(history of the batch's keys)
(stream_scd2's argument), the pending store is O(watermark lag), and
the emission join is one keyed equi-join with a range residual against
a bucket-pruned history scan. Nothing rescans the corpus; nothing
grows with stream age except the history store itself, which
compaction bounds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.streaming.batch_commit import (
    BatchCommit,
    Publish,
    batch_dir,
    overwrite,
    partition_dir,
    read_back,
    read_version,
)
from flink_kafka_table_api_spark.streaming.cdc_apply import (
    OPS_COLUMNS,
    OPS_SCHEMA,
)
from flink_kafka_table_api_spark.streaming.late_data import (
    EventClock,
    stage_chunked_by,
)
from flink_kafka_table_api_spark.streaming.scd2_stream import (
    _latest_per_key,
    apply_history_delta,
    read_history,
    scd2_lookup,
)
from flink_kafka_table_api_spark.streaming.temporal_join import PROBE_COLUMNS

OUT_SCHEMA = (
    "probe_id long, probe_ts timestamp, key long, "
    "dim_value double, dim_op_id long"
)
PENDING_SCHEMA = "probe_id long, probe_ts timestamp, key long"


def _enrich(
    history: DataFrame | None,
    probes: DataFrame,
    bin_seconds: int | None = None,
) -> DataFrame:
    """Interval-containment enrichment of `probes` against the
    latest-per-key SCD2 chain: tombstone (op='D') intervals are removed
    FIRST, so a probe inside a deleted span left-joins to NULL rather
    than to the delete row. `bin_seconds` enables scd2_lookup's
    bin-based range join (the zipf-hot-key fix)."""
    if history is None:
        return probes.select(
            "probe_id", "probe_ts", "key",
            F.lit(None).cast("double").alias("dim_value"),
            F.lit(None).cast("long").alias("dim_op_id"),
        )
    versions = _latest_per_key(history).filter(F.col("op") == "U")
    return scd2_lookup(
        versions, probes, probe_ts="probe_ts", bin_seconds=bin_seconds,
    ).select(
        "probe_id", "probe_ts", "key", "dim_value",
        F.col("version_op_id").alias("dim_op_id"),
    )


def stream_event_temporal_join(
    spark: SparkSession,
    ops_chunked: DataFrame,
    probes_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    dim_delay: str,
    probe_delay: str,
    chunk_col: str = "__chunk",
    n_buckets: int = 16,
    lookup_bin_seconds: int | None = None,
) -> DataFrame:
    """Join `probes_chunked` (probe_id, probe_ts, key, `chunk_col`)
    FOR SYSTEM_TIME AS OF each probe's OWN event time against the
    versioned dimension maintained from `ops_chunked` (op_id, op_ts,
    key, op in {'U','D'}, value, `chunk_col`), both staged as
    `n_chunks` aligned micro-batch drops, under per-side event-time
    watermarks (INTERVAL literals). Returns (probe_id, probe_ts, key,
    dim_value, dim_op_id, batch_id): dim_* NULL for keys unseen,
    tombstoned, or not yet versioned at the probe's instant; batch_id
    is the batch whose horizon released the row (n_chunks = the
    end-of-input flush). `lookup_bin_seconds` turns the emission join
    into scd2_lookup's bin-based range join — required posture for
    zipf-hot dimension keys (see scd2_lookup)."""
    ops_src = stage_chunked_by(
        ops_chunked, os.path.join(state_dir, "ops"),
        chunk_col=chunk_col, n_chunks=n_chunks, columns=OPS_COLUMNS,
    )
    probe_src = stage_chunked_by(
        probes_chunked, os.path.join(state_dir, "probes"),
        chunk_col=chunk_col, n_chunks=n_chunks, columns=PROBE_COLUMNS,
    )
    hist = os.path.join(state_dir, "hist")
    pending = os.path.join(state_dir, "pending")
    out = os.path.join(state_dir, "out")
    commit = BatchCommit(
        state_dir, scoped=(pending,), partitioned=(hist, out),
        versioned=(pending,), meta_dir=os.path.join(state_dir, "offsets"),
    )
    # one clock per side; per-file key-bucket sets ride their staging
    # jobs. Bucket sets are SUPERSETS of what each batch admits/emits —
    # valid for the history-scan prunes because the exact-key semi-joins
    # downstream do the real restriction.
    kb_set = {"kbs": F.collect_set(
        F.pmod(F.xxhash64("key"), F.lit(n_buckets)).cast("int")
    )}
    dim_clock = EventClock(
        spark, commit, ops_src, OPS_SCHEMA, "op_ts", dim_delay,
        key="dim_", aggs=kb_set,
    )
    probe_clock = EventClock(
        spark, commit, probe_src, PENDING_SCHEMA, "probe_ts", probe_delay,
        key="probe_", aggs=kb_set,
    )

    def probe_kbs_through(batch_id: int, rows: list | None) -> list | None:
        """Union of probe-file bucket sets over batches 0..batch_id — a
        superset of the buckets of every probe buffered or emitted at
        batch_id (carried probes came from earlier batches' files):
        batch_id-1's sidecar union plus this batch's stat `rows`. None
        once any batch's files did not resolve."""
        prev = commit.meta(batch_id - 1, {"probe_kbs": []}).get("probe_kbs")
        if prev is None or rows is None:
            return None
        return sorted({*prev, *(b for r in rows for b in r["kbs"])})

    def read_pending(batch_id: int) -> DataFrame:
        return read_version(spark, pending, batch_id, PENDING_SCHEMA)

    def process(probe_batch: DataFrame, batch_id: int) -> Publish:
        # 2. dim side: admit + fold into the SCD2 delta store
        ops_file = f"chunk{batch_id:04d}.parquet"
        ops = spark.read.schema(OPS_SCHEMA).parquet(
            os.path.join(ops_src, ops_file)
        )
        dim = dim_clock.tick(ops, batch_id, file=ops_file)
        apply_history_delta(
            spark, hist,
            dim.admitted.withColumn(
                "__kb",
                F.pmod(F.xxhash64("key"), F.lit(n_buckets)).cast("int"),
            ),
            batch_id=batch_id, n_buckets=n_buckets,
            kbs=(
                sorted({b for r in dim.rows for b in r["kbs"]})
                if dim.rows is not None else None
            ),
        )
        # 3. probe side: admit + union with the carried buffer
        probe = probe_clock.tick(probe_batch, batch_id)
        probe_kbs = probe_kbs_through(batch_id, probe.rows)
        buffered = read_pending(batch_id - 1).unionByName(
            probe.admitted.select(*PROBE_COLUMNS)
        ).persist()
        # 4. both watermarks advanced from rows SEEN (dropped rows
        # advance them); the emission horizon is their minimum
        w_dim, w_probe = dim.watermark, probe.watermark
        horizon = (
            min(w_dim, w_probe)
            if w_dim is not None and w_probe is not None else None
        )
        # 5. emit the buffered probes whose instant is final
        if horizon is None:
            emit = buffered.filter(F.lit(False))
            still = buffered
        else:
            emit = buffered.filter(F.col("probe_ts") <= horizon)
            still = buffered.filter(F.col("probe_ts") > horizon)
        full_hist = read_history(spark, hist)
        if full_hist is not None:
            # prune the history scan to the emitting probes' buckets and
            # keys. The bucket list is the running union carried in the
            # sidecar (probe files 0..k — a superset of the buffered
            # probes' buckets, output-identical because the exact-key
            # semi-join does the real restriction); the per-batch
            # distinct-collect runs only if the sidecar doesn't resolve.
            kbs = probe_kbs
            if kbs is None:
                kbs = [
                    r[0] for r in emit.select(
                        F.pmod(F.xxhash64("key"), F.lit(n_buckets))
                        .cast("int").alias("kb")
                    ).distinct().collect()
                ]
            full_hist = (
                full_hist.filter(F.col("__kb").isin(kbs))
                .join(emit.select("key").distinct(), "key", "left_semi")
                if kbs else None
            )
        # 6. publish out + pending + offsets: independent DAGs over the
        # persisted buffer to DISTINCT paths
        return Publish([
            overwrite(_enrich(full_hist, emit, lookup_bin_seconds),
                      partition_dir(out, batch_id)),
            overwrite(still, batch_dir(pending, batch_id)),
        ], meta={**dim.meta, **probe.meta, "probe_kbs": probe_kbs},
            release=[buffered])

    commit.drain(
        spark, probe_src, "probe_id long, probe_ts timestamp, key long",
        process,
    )

    # end-of-input flush: watermark -> +inf, every buffered probe emits
    # against the final history (recomputed from committed state and
    # committed like any batch)
    def flush() -> Publish:
        left = read_pending(n_chunks - 1)
        return Publish([overwrite(
            _enrich(read_history(spark, hist), left, lookup_bin_seconds),
            partition_dir(out, n_chunks),
        )])

    commit.run(n_chunks, flush, suffix="-flush")
    return read_back(spark, out, OUT_SCHEMA + ", batch_id long").select(
        "probe_id", "probe_ts", "key", "dim_value", "dim_op_id", "batch_id"
    )


__all__ = ["stream_event_temporal_join"]
