"""Flink CUMULATE windows (windowing TVF, public Flink SQL surface) as a
Spark-first two-stage plan.

Flink's `CUMULATE(TABLE t, DESCRIPTOR(ts), step, size)` assigns each row
to the expanding window family [start, start+step), [start, start+2*step),
..., [start, size): an early-firing total — "day so far, emitted every
step" — that plain TUMBLE/HOP cannot express (HOP windows all have the
same width). The reference client's own pipeline is windowless, but the
TVF is core Table API surface (Flink docs "Windowing TVF"; the reference
delegates exactly this planning to Flink, TransactionProcessor.java:106).

Spark has no cumulate window. The naive port explodes every row into
size/step copies — at 100 TB that's a 4-16x input blowup shuffled keyed
by slice. Flink's own runtime avoids it with the "slicing" optimization
(one pane per step, merged at emission); the Spark-first equivalent is
the same algebra in two declarative stages:

  1. PARTIALS: ONE step-tumbling aggregate (map-side partial agg, one
     keyed shuffle of |slices x keys| rows) — `F.window(ts, step)`;
  2. MERGE: densify each (window, key)'s slice spine from its first
     populated slice (`sequence()` + explode — output-sized, never
     input-sized), union the partials in, and running-merge with ONE
     window fold ordered by slice_end (sum/count partials are
     DECIMAL-exact, so merge order is immaterial).

Emitted rows: one per (cumulate window, key, slice) from the key's first
populated slice through the window's end — exactly Flink's emission (a
slice fires even when IT is empty, as long as the cumulative prefix has
data; slices before the first datum don't fire).

The streaming form (`stream_cumulate` in queries.py) runs stage 1 on the
REAL engine — watermarked step-tumble, APPEND mode, availableNow over
out-of-order drops (streaming/late_data.py) — so late-data admission,
state eviction and the emission schedule are Spark's own, with the
pinned semantics the stream_late_events oracle replays; stage 2 is a
batch fold over the emitted (closed) slices. State is O(slices inside
the lateness horizon x keys) regardless of corpus age; the merge input
is |closed slices x keys| — never the event stream.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def cumulate_finalize(
    partials: DataFrame,
    *,
    step_seconds: int,
    size_steps: int,
    group_by: Sequence[str] = (),
    merge_sum: Sequence[str] = (),
) -> DataFrame:
    """Stage-2 merge: `partials` has one row per POPULATED step slice —
    (slice_end timestamp, *group_by, *merge_sum partial columns; count
    partials as LONG, sum partials DECIMAL-exact). Returns one row per
    (window_start, window_end=slice_end, *group_by) for every slice from
    the key's first populated one to the cumulate window's end, with the
    partial columns running-merged by SUM over the slice prefix."""
    size_sec = step_seconds * size_steps
    slice_start = F.col("slice_end").cast("long") - F.lit(step_seconds)
    win_start = F.timestamp_seconds(
        F.floor(slice_start / F.lit(size_sec)) * F.lit(size_sec)
    )
    p = partials.withColumn("window_start", win_start)
    # the densified spine: every step boundary from the first populated
    # slice to the window end — an aggregate of the partials (tiny), not
    # of the input
    spine = (
        p.groupBy("window_start", *group_by)
        .agg(F.min("slice_end").alias("__first"))
        .select(
            "window_start",
            *group_by,
            F.explode(
                F.sequence(
                    F.col("__first"),
                    F.timestamp_seconds(
                        F.col("window_start").cast("long") + F.lit(size_sec)
                    ),
                    F.expr(f"INTERVAL {step_seconds} SECONDS"),
                )
            ).alias("slice_end"),
        )
    )
    # merge join-free: the spine derives from the same plan as the
    # partials, so a spine-to-partials join is a self-join (Catalyst
    # throws conflicting-references through a memory-sink view). UNION
    # the null-partial spine with the partials and fold instead — one
    # aggregate replaces the join, and both union branches may share
    # lineage safely.
    keys = ["window_start", *group_by, "slice_end"]
    zero = spine.select(
        *keys,
        *[
            F.lit(None).cast(dict(p.dtypes)[c]).alias(c)
            for c in merge_sum
        ],
    )
    per_slice = (
        zero.unionByName(p.select(*keys, *merge_sum))
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in merge_sum])
    )
    w = (
        Window.partitionBy("window_start", *group_by)
        .orderBy("slice_end")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = per_slice
    for c in merge_sum:
        out = out.withColumn(c, F.sum(c).over(w))
    return out.select(
        "window_start",
        F.col("slice_end").alias("window_end"),
        *group_by,
        *merge_sum,
    )


def cumulate(
    df: DataFrame,
    ts_col: str,
    *,
    step_seconds: int,
    size_steps: int,
    group_by: Sequence[str] = (),
    partial_aggs: Sequence[Column] = (),
    merge_sum: Sequence[str] = (),
) -> DataFrame:
    """Batch CUMULATE: `partial_aggs` build the per-step partials (use
    LONG counts / DECIMAL-exact sums so SUM is their merge), `merge_sum`
    names the partial columns to running-merge. One keyed shuffle over
    the input; everything downstream is slices-x-keys sized."""
    partials = (
        df.groupBy(F.window(ts_col, f"{step_seconds} seconds"), *group_by)
        .agg(*partial_aggs)
        .select(F.col("window.end").alias("slice_end"), *group_by,
                *merge_sum)
    )
    # the finalize references the partials twice (spine + union branch);
    # persisting them keeps the input scan+aggregate a SINGLE pass — at
    # 100 TB the slice partials are slices x keys (tiny), the input is not
    partials = partials.persist()
    return cumulate_finalize(
        partials,
        step_seconds=step_seconds,
        size_steps=size_steps,
        group_by=group_by,
        merge_sum=merge_sum,
    )
