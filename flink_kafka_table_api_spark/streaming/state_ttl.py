"""Per-key state TTL for the update-mode aggregate family: the
bounded-state guarantee of the update-mode operators.

`streaming/agg_retract.py` materializes a GROUP BY over an upsert
changelog by carrying ONE row per live key forever: correct, but its
state grows with the all-time key universe — the exact failure mode
Flink's `table.exec.state.ttl` / `StateTtlConfig` exists to bound. This
module adds that missing knob: keys whose state has not been touched
within `ttl` are EVICTED from the carried state, the group aggregates
shrink accordingly (emitting the ordinary -U/+U/-D changelog rows), and
a key that returns after eviction restarts from its new row alone —
Flink's documented idle-state-retention semantics (a query "needs a
previously 'forgotten' key -> it is treated as a fresh arrival").

Determinism: Flink's StateTtlConfig clock is processing time, which no
oracle can replay. The deterministic variant implemented here is
EVENT-TIME TTL against the delivered high-watermark — the same
proc-time -> delivered-maximum proxy the repo's proc-time temporal join
uses (`streaming/temporal_join.py`):

    clock_k  = max op_ts delivered through batch k   (monotone)
    cutoff_k = clock_k - ttl
    state_k  = { per-key argmax by (op_ts, op_id) over ops <= k
                 : winner.op_ts > cutoff_k }

Eviction ORDER is merge-then-evict, and that choice is provably
equivalent to the oracle's filter formulation even for late ops
arriving AFTER their key was evicted: cutoffs are monotone
nondecreasing, so the true per-key argmax W either has
W.op_ts > cutoff_k (then W survived every earlier cutoff too, is still
in carried state, and wins the merge) or W.op_ts <= cutoff_k (then any
late-op stand-in the engine carries has op_ts <= W.op_ts <= cutoff_k
and is evicted identically). The invariant is pinned by the
late-op-to-evicted-key fixture in tests/test_state_ttl.py.

The Spark-first state machine is the agg_retract recipe (foreachBatch,
batch_commit protocol) with one extra stage:

  per micro-batch k:
    1. MERGE:  winners over carried state ∪ batch ops (max_by hash
               aggregate — map-side combine absorbs celebrity keys);
    2. CLOCK:  clock_k = max(clock_{k-1}, batch max op_ts), persisted
               as meta (state alone cannot recover it: eviction
               deletes the very rows that carried the maximum). This is
               the shared late_data.EventClock with delay = ttl and no
               admission: its watermark IS cutoff_k;
    3. EVICT:  drop winners with op_ts <= clock_k - ttl — THE
               bounded-state step: carried state is one row per key
               active within the TTL horizon, not per key ever seen;
    4. AGG+DIFF+PUBLISH: exactly agg_retract stages 2-4.

At 100 TB: the merge shuffles O(batch + horizon-active keys) on the
key, and — unlike the TTL-less sibling — the carried state is bounded
by the churn horizon, so a year-old pipeline pays for its active
window, not its history. This is the guarantee Flink ships as
`table.exec.state.ttl` (idle state retention); the eviction itself is
a filter on the already-shuffled merge output: zero extra shuffles.

Reference anchor: the reference pipeline keeps no cross-record state
(TransactionProcessor.java:134-199, a stateless filter/project chain),
so TTL has no reference twin; the semantics implemented here are
Flink's public StateTtlConfig / table.exec.state.ttl surface
(docs: state backends / idle state retention), expressed Spark-first.

DuckDB oracle: `stream_state_ttl_sql` (queries.py) — per-batch
snapshots under the same cutoff predicate, diffed into the RowKind
changelog (the stream_agg_retract oracle shape plus one WHERE clause).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.streaming.agg_retract import (
    OPS_COLUMNS,
    OPS_SCHEMA,
    _AGG_SCHEMA,
    _group_agg,
    _OUT_SCHEMA,
    _STATE_SCHEMA,
    _winners,
    changelog,
)
from flink_kafka_table_api_spark.streaming.batch_commit import (
    BatchCommit,
    Publish,
    batch_dir,
    overwrite,
    read_version,
)
from flink_kafka_table_api_spark.streaming.late_data import (
    EventClock,
    stage_chunked_by,
)


def stream_agg_state_ttl(
    spark: SparkSession,
    ops_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    ttl: str = "12 days",
    chunk_col: str = "__chunk",
) -> DataFrame:
    """GROUP BY (grp) COUNT/SUM over an upsert/delete changelog with
    event-time state TTL: identical contract to
    :func:`~flink_kafka_table_api_spark.streaming.agg_retract.stream_agg_retract`
    (ops columns op_id, op_ts, key, grp, op in {'U','D'}, value,
    `chunk_col`; returns op/grp/n_keys/total/batch_id), except keys
    idle beyond `ttl` of the delivered high-watermark leave the state
    — and therefore the aggregates. Deterministic given the drop
    boundaries."""
    src = stage_chunked_by(
        ops_chunked, os.path.join(state_dir, "src"),
        chunk_col=chunk_col, n_chunks=n_chunks, columns=OPS_COLUMNS,
    )
    out_dir = os.path.join(state_dir, "out")
    state_dir_v = os.path.join(state_dir, "state")
    agg_dir = os.path.join(state_dir, "agg")
    commit = BatchCommit(
        state_dir, scoped=(out_dir, state_dir_v, agg_dir),
        versioned=(state_dir_v, agg_dir),
        meta_dir=os.path.join(state_dir, "meta"),
    )
    clock = EventClock(spark, commit, src, OPS_SCHEMA, "op_ts", ttl)

    def process(batch: DataFrame, batch_id: int) -> Publish:
        merged = _winners(
            read_version(spark, state_dir_v, batch_id - 1, _STATE_SCHEMA)
            .unionByName(batch.select(
                "key", "op_id", "op_ts", "grp", "op", "value"
            ))
        )
        # CLOCK: the delivered high-watermark. The max over THIS batch
        # alone is enough: the previous clock already dominates every
        # prior row's op_ts (carried state is a subset of the delivered
        # rows), so the merge needs no scan of its own. The sidecar is
        # load-bearing: eviction removes the rows that carried old
        # maxima, so the clock must be carried OUTSIDE the state.
        cutoff = clock.tick(batch, batch_id, admit=False)
        # EVICT: strict op_ts > clock - ttl (a key exactly AT the
        # cutoff is evicted — Flink clears state whose retention timer
        # has fired). ts_shift is exact to the microsecond, as is the
        # timestamp comparison.
        kept = (
            merged if cutoff.watermark is None
            else merged.filter(F.col("op_ts") > cutoff.watermark)
        )
        kept = kept.persist()
        agg = _group_agg(kept).persist()
        prev_agg = read_version(spark, agg_dir, batch_id - 1, _AGG_SCHEMA)
        return Publish([
            overwrite(changelog(prev_agg, agg, batch_id),
                      batch_dir(out_dir, batch_id)),
            overwrite(kept, batch_dir(state_dir_v, batch_id)),
            overwrite(agg, batch_dir(agg_dir, batch_id)),
        ], meta=cutoff.meta, release=[kept, agg])

    return commit.drain(spark, src, OPS_SCHEMA, process, out_dir, _OUT_SCHEMA)
