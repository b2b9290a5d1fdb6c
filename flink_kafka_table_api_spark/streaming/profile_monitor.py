"""Streaming incremental table-profile monitor.

A 100 TB ingest pipeline needs continuous data-quality accounting —
per-column row/null counts, value ranges, and distinct cardinalities —
without ever re-scanning the accumulated corpus. The batch profiler
(`table_profile`) answers that for a static table in one pass; this is
its streaming twin: every micro-batch contributes ONE narrow aggregate
row per column (count, nulls, typed min/max, and a Datasketches HLL
sketch of the column's values — Spark's `hll_sketch_agg`), published
crash-safely under the batch_commit protocol; the live profile is a
fold over those partials in which counts SUM, ranges MIN/MAX, and
sketches UNION (`hll_union_agg`).

Why sketches and not exact distincts: exact per-batch distinct sets are
O(batch) state and their merge is O(corpus); HLL registers are fixed-size
(2^lgK bytes) and their union is lossless AT THE REGISTER level, so the
merged estimate carries the same HLL++ accuracy contract as a single
pass — but NOT the same bits: Apache DataSketches promotes low-cardinality
sketches from exact coupon mode to estimating HLL mode when they enter a
union, so merged-vs-single-pass (and even different union groupings of
the same partials) can differ by a few estimated counts (measured 989 vs
996 on a 1000-distinct column; tests pin the tolerance contract, never
bit-equality — the same honesty line approx_distinct draws for HLL++).
The scale story survives intact: profile state is O(batches x columns)
tiny rows, per-batch cost is one map-side-partial aggregate over the
batch, and the merge never touches data rows.

Per micro-batch k (foreachBatch, batch_commit protocol):
  1. AGGREGATE the batch once — per column: n_rows, n_null,
     min/max in the column's own type (doubles for numerics, ISO-format
     strings for timestamps/strings — both orderings engine-portable),
     hll_sketch_agg over a portable representation (longs stay longs,
     timestamps as unix micros, doubles/strings as strings);
  2. PUBLISH one row per column into partials/ partitioned by batch_id
     (the partials/batch_id=k scrub makes a mid-batch crash recompute
     cleanly).

The profile readout (`profile_of`) is deterministic and — except for
the sketch estimate, which carries the HLL++ accuracy contract instead —
exactly replayable by DuckDB over the same corpus, so the registered
query can hash-check counts/ranges and assert the estimate's 4-sigma
tolerance boolean (the `approx_distinct` precedent).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.streaming.batch_commit import (
    BatchCommit,
    Publish,
    has_data,
)
from flink_kafka_table_api_spark.streaming.late_data import stage_chunked_by

# (column, kind): kind drives the min/max type and the sketch input
# representation. Kinds: "long" | "double" | "string" | "ts".
ProfileSpec = list[tuple[str, str]]

EVENTS_SPEC: ProfileSpec = [
    ("event_id", "long"),
    ("ts", "ts"),
    ("user_id", "long"),
    ("event_type", "string"),
    ("value", "double"),
]

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _sketch_input(col: str, kind: str) -> Column:
    """Portable sketch representation: hll_sketch_agg accepts
    int/long/string/binary only, and the representation must be injective
    so distinct-of-representation == distinct-of-value."""
    if kind == "long":
        return F.col(col)
    if kind == "ts":
        # ts ships as TIMESTAMP_NTZ; session tz is pinned UTC so the
        # LTZ cast is stable and unix_micros stays injective
        return F.unix_micros(F.col(col).cast("timestamp"))
    return F.col(col).cast("string")


def _minmax(col: str, kind: str) -> tuple[Column, Column, Column, Column]:
    """(min_num, max_num, min_str, max_str) — numeric kinds fill the
    double pair, string/ts kinds the string pair (ISO timestamp format is
    chronologically ordered as a string in both engines)."""
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    if kind in ("long", "double"):
        c = F.col(col).cast("double")
        return F.min(c), F.max(c), F.min(null_s), F.max(null_s)
    if kind == "ts":
        c = F.date_format(F.col(col), _TS_FMT)
        return F.min(null_d), F.max(null_d), F.min(c), F.max(c)
    c = F.col(col)
    return F.min(null_d), F.max(null_d), F.min(c), F.max(c)


def _batch_partials(batch: DataFrame, spec: ProfileSpec) -> DataFrame:
    """ONE aggregate pass over the batch -> one wide row; unpivoted
    driver-side into (column, n_rows, n_null, min_num, max_num, min_str,
    max_str, sketch) — |spec| tiny rows."""
    aggs: list[Column] = [F.count("*").alias("__n")]
    for col, kind in spec:
        mn, mx, ms, xs = _minmax(col, kind)
        aggs += [
            F.coalesce(
                F.sum(F.col(col).isNull().cast("long")), F.lit(0)
            ).alias(f"__null_{col}"),
            mn.alias(f"__minn_{col}"), mx.alias(f"__maxn_{col}"),
            ms.alias(f"__mins_{col}"), xs.alias(f"__maxs_{col}"),
            F.hll_sketch_agg(_sketch_input(col, kind))
            .alias(f"__hll_{col}"),
        ]
    wide = batch.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(col).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"__null_{col}").alias("n_null"),
            F.col(f"__minn_{col}").alias("min_num"),
            F.col(f"__maxn_{col}").alias("max_num"),
            F.col(f"__mins_{col}").alias("min_str"),
            F.col(f"__maxs_{col}").alias("max_str"),
            F.col(f"__hll_{col}").alias("sketch"),
        )
        for col, _ in spec
    ]
    return wide.select(
        F.explode(F.array(*per_col)).alias("p")
    ).select("p.*")


def merge_partials(partials: DataFrame) -> DataFrame:
    """The fold: counts SUM, ranges MIN/MAX, sketches UNION. The union
    preserves the HLL++ accuracy contract (register-level max), though
    coupon-mode promotion means the estimate is not bit-stable across
    batchings — see the module docstring."""
    return (
        partials.groupBy("column").agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("n_null").cast("long").alias("n_null"),
            F.min("min_num").alias("min_num"),
            F.max("max_num").alias("max_num"),
            F.min("min_str").alias("min_str"),
            F.max("max_str").alias("max_str"),
            F.hll_sketch_estimate(
                F.hll_union_agg("sketch")
            ).cast("long").alias("approx_distinct"),
        )
    )


def stream_profile(
    spark: SparkSession,
    rows_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    spec: ProfileSpec = None,
    chunk_col: str = "__chunk",
) -> DataFrame:
    """Profile `rows_chunked` delivered as `n_chunks` micro-batch drops.
    Returns the merged live profile: one row per spec column with exact
    counts/ranges and the sketch-merged distinct estimate."""
    spec = spec if spec is not None else EVENTS_SPEC
    columns = [c for c, _ in spec]
    src = stage_chunked_by(
        rows_chunked, os.path.join(state_dir, "src"),
        chunk_col=chunk_col, n_chunks=n_chunks, columns=columns,
    )
    partials_dir = os.path.join(state_dir, "partials")
    commit = BatchCommit(state_dir, partitioned=(partials_dir,))

    def process(batch: DataFrame, batch_id: int) -> Publish:
        return Publish([
            lambda: _batch_partials(batch, spec)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(partials_dir)
        ])

    commit.drain(
        spark, src, rows_chunked.select(*columns).schema, process
    )
    if not has_data(partials_dir):
        return spark.createDataFrame(
            [], "column string, n_rows long, n_null long, min_num double, "
            "max_num double, min_str string, max_str string, "
            "approx_distinct long",
        )
    return merge_partials(
        spark.read.parquet(partials_dir).drop("batch_id")
    )


__all__ = [
    "stream_profile", "merge_partials", "EVENTS_SPEC", "stage_chunked_by",
]
