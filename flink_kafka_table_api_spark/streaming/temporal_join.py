"""Processing-time TEMPORAL JOIN against a CDC-maintained dimension.

The Flink Table API's signature enrichment shape is the temporal join:
a probe stream joined `FOR SYSTEM_TIME AS OF` against the latest version
of a continuously-updated (changelog-backed) dimension table — public
Flink API surface; the reference pipeline is the degenerate case whose
"dimension" is a literal CASE expression (TransactionProcessor.java's
currency conversion). This module is the Spark-first equivalent, built
directly on the CDC apply machinery (streaming/cdc_apply.py):

  per micro-batch k (foreachBatch, driven by the PROBE stream):
    1. COMMIT: the batch_commit protocol — state version k AND output
       partition k are both batch-scoped;
    2. APPLY ops drop k: watermark-admit (op_ts > W_{k-1}), per-key
       argmax reduce, fold into state version k — changelog_winners /
       merge_state_version, the exact CDC-apply fold;
    3. JOIN: probe batch k LEFT JOINs snapshot k on the key —
       tombstoned keys (latest admitted op is a delete) and never-seen
       keys enrich to NULL. Ops drop k is applied BEFORE probe drop k
       joins (the Flink processing-time contract: a probe sees the
       latest dimension version its own batch installed);
    4. PUBLISH out/batch_id=k, ADVANCE the watermark.

Determinism: given the drop boundaries, the enrichment of every probe
row is a pure function of (its drop index, the admitted ops in drops
<= its own) — the DuckDB oracle replays admission + per-probe argmax
with no streaming machinery (tests/test_temporal_join.py::ORACLE shape).
This is what makes the temporal join GATE-able where Flink's
processing-time joins are famously non-deterministic: the drop
boundaries stand in for processing time.

At 100 TB: per batch, the ops reduce shuffles one row per distinct key
in the drop, the state fold joins O(live keys), and the probe join is a
keyed equi-join Catalyst plans as broadcast or sort-merge by size (AQE).
Output is partitioned by batch, so downstream consumers prune to the
drops they haven't read. State is the CDC version chain — O(live keys),
pruned to a bounded tail.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from flink_kafka_table_api_spark.streaming.cdc_apply import (
    OPS_COLUMNS,
    STATE_SCHEMA,
    changelog_winners,
    merge_state_version,
)
from flink_kafka_table_api_spark.streaming.batch_commit import (
    BatchCommit,
    Publish,
    batch_dir,
    overwrite,
    read_back,
    read_version,
)
from flink_kafka_table_api_spark.streaming.late_data import (
    EventClock,
    stage_chunked_by,
)

PROBE_COLUMNS = ["probe_id", "probe_ts", "key"]


def asof_enrich(
    probes: DataFrame, history: DataFrame
) -> DataFrame:
    """EVENT-TIME temporal lookup: each probe sees the dimension
    version AS OF its own probe_ts — the last op by (op_ts, op_id)
    with op_ts <= probe_ts on its key; a winner that is a delete
    enriches to NULL (the key was tombstoned as of that instant).

    Expressed as the UNION + ordered-window shape (the
    operators/relational.py asof_join_last pattern), NOT a join: ops
    and probes union into one keyed sequence ordered by (ts, ops-
    before-probes, id), and every probe reads last(op_struct,
    ignorenulls) over the unbounded-preceding frame. One keyed shuffle,
    linear per key. The previous keyed-join + argmax shape generated
    |probes_hot| x |ops_hot| candidate pairs on a zipf-hot key before
    the aggregate — quadratic in key hotness, the same scale-killer
    the bin-based range join fixed in scd2_lookup; the window shape is
    O(P + V) per key outright."""
    op_struct_t = "struct<dim_op_id: bigint, __op: string, " \
                  "dim_value: double>"
    ops_side = history.select(
        "key",
        F.col("op_ts").alias("__t"),
        F.lit(0).alias("__after"),
        F.col("op_id").alias("__tie"),
        F.struct(
            F.col("op_id").alias("dim_op_id"),
            F.col("op").alias("__op"),
            F.col("value").alias("dim_value"),
        ).alias("__o"),
        F.lit(None).cast("long").alias("probe_id"),
    )
    probe_side = probes.select(
        "key",
        F.col("probe_ts").alias("__t"),
        F.lit(1).alias("__after"),
        F.col("probe_id").alias("__tie"),
        F.lit(None).cast(op_struct_t).alias("__o"),
        "probe_id",
    )
    w = (
        Window.partitionBy("key")
        .orderBy("__t", "__after", "__tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = ops_side.unionByName(probe_side).withColumn(
        "__w", F.last("__o", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("__after") == 1).select(
        "probe_id", F.col("__t").alias("probe_ts"), "key",
        F.when(F.col("__w.__op") == "U", F.col("__w.dim_value"))
        .alias("dim_value"),
        F.when(F.col("__w.__op") == "U", F.col("__w.dim_op_id"))
        .alias("dim_op_id"),
    )


def stream_temporal_join(
    spark: SparkSession,
    ops_chunked: DataFrame,
    probes_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    delay: str,
    chunk_col: str = "__chunk",
    semantics: str = "processing",
) -> DataFrame:
    """Join `probes_chunked` (probe_id, probe_ts, key, `chunk_col`)
    FOR SYSTEM_TIME AS OF against the dimension maintained from
    `ops_chunked` (the cdc_apply changelog: op_id, op_ts, key, op in
    {'U','D'}, value, `chunk_col`), both staged as `n_chunks` aligned
    micro-batch drops. Returns (probe_id, probe_ts, key, dim_value,
    dim_op_id, batch_id): dim_* are NULL for keys unseen or tombstoned
    as of the probe's reference instant.

    `semantics`:
      - "processing": probe drop k sees the LATEST snapshot its own
        batch installed (Flink's proc-time temporal join, made
        deterministic by the drop boundaries);
      - "event": each probe sees the version AS OF ITS OWN probe_ts —
        per-probe argmax over the ACCUMULATED admitted-ops history with
        op_ts <= probe_ts (Flink's event-time temporal join). An op
        admitted in a LATER batch never retro-updates an already-emitted
        probe (same as Flink: emission is final), so results are still a
        pure function of the drop boundaries — and the history a probe
        may consult is capped at its own drop index."""
    ops_src = stage_chunked_by(
        ops_chunked, os.path.join(state_dir, "ops"),
        chunk_col=chunk_col, n_chunks=n_chunks, columns=OPS_COLUMNS,
    )
    probe_src = stage_chunked_by(
        probes_chunked, os.path.join(state_dir, "probes"),
        chunk_col=chunk_col, n_chunks=n_chunks, columns=PROBE_COLUMNS,
    )
    if semantics not in ("processing", "event"):
        raise ValueError(f"unknown temporal-join semantics: {semantics!r}")
    state = os.path.join(state_dir, "state")
    hist = os.path.join(state_dir, "hist")
    out = os.path.join(state_dir, "out")
    commit = BatchCommit(
        state_dir, scoped=(state,), partitioned=(hist, out),
        versioned=(state,), meta_dir=os.path.join(state_dir, "offsets"),
    )
    # the ops drops are read per batch by file name, with the schema they
    # were staged with: no per-batch inference job
    ops_schema = ops_chunked.select(*OPS_COLUMNS).schema
    hist_schema = StructType(
        ops_schema.fields + [StructField("batch_id", IntegerType())]
    )
    clock = EventClock(spark, commit, ops_src, ops_schema, "op_ts", delay)

    def process(probe_batch: DataFrame, batch_id: int) -> Publish:
        # 1. apply ops drop k BEFORE the probe join
        ops_file = f"chunk{batch_id:04d}.parquet"
        ops = spark.read.schema(ops_schema).parquet(
            os.path.join(ops_src, ops_file)
        )
        # the watermark advances from ops SEEN (dropped ops advance it)
        t = clock.tick(ops, batch_id, file=ops_file)
        admitted = t.admitted
        # Both semantics previously wrote their dimension state, read
        # the files straight back, and only then built + wrote the
        # enrichment — two serialized jobs with a parquet round-trip in
        # the middle. The persisted in-memory frame carries the
        # identical rows (a parquet round-trip is value-preserving), so
        # the state publish and the enriched publish are independent
        # DAGs to DISTINCT paths.
        if semantics == "processing":
            # the CDC fold: one snapshot version per drop
            merged = merge_state_version(
                read_version(spark, state, batch_id - 1, STATE_SCHEMA),
                changelog_winners(
                    admitted.withColumn("__n", F.lit(1)), "__n"
                ),
            ).persist()
            # 2. probe drop k sees snapshot k
            snapshot = (
                merged
                .filter(F.col("last_op") != "D")
                .select(
                    "key",
                    F.col("last_value").alias("dim_value"),
                    F.col("last_op_id").alias("dim_op_id"),
                )
            )
            enriched = probe_batch.join(snapshot, "key", "left").select(
                "probe_id", "probe_ts", "key", "dim_value", "dim_op_id",
            )
            state_write = overwrite(merged, batch_dir(state, batch_id))
        else:
            # the versioned-table append: admitted ops accumulate as the
            # queryable dimension HISTORY (batch-scoped partitions).
            # Probes see prior history ∪ this batch's admitted ops — the
            # same rows the append-then-reread produced.
            admitted = admitted.select(*OPS_COLUMNS).persist()
            full_hist = (
                read_back(spark, hist, hist_schema)
                .drop("batch_id")
                .unionByName(admitted)
            )
            # 2. each probe sees the version AS OF its own probe_ts
            enriched = asof_enrich(probe_batch, full_hist)
            state_write = lambda: (  # noqa: E731
                admitted
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .partitionBy("batch_id")
                .parquet(hist)
            )
        return Publish([
            state_write,
            lambda: enriched.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(out),
        ], meta=t.meta,
            release=[merged if semantics == "processing" else admitted])

    return commit.drain(
        spark, probe_src, "probe_id long, probe_ts timestamp, key long",
        process, out,
        "probe_id long, probe_ts timestamp, key long, dim_value double, "
        "dim_op_id long, batch_id long",
    )


__all__ = ["stream_temporal_join", "asof_enrich", "stage_chunked_by"]
