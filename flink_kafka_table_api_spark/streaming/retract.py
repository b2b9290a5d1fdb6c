"""Retract-stream Top-N: Flink's Rank operator over an UPDATE stream,
emitting a RowKind changelog; and the RowKind diff and consumer-side
changelog apply that every update-mode pipeline here shares.

The Flink Table API's other signature abstraction (beside the temporal
join) is the UPDATE-mode query: a continuous aggregation whose result
table changes as input arrives, exposed to consumers as a CHANGELOG of
RowKind-tagged rows — +I insert, -U retract-before-update, +U
update-after, -D delete (`tableEnv.toChangelogStream` /
`toRetractStream`, public API surface; RowKind is
org.apache.flink.types.RowKind). The canonical update-mode query is
Top-N over a running aggregate:

    SELECT * FROM (
      SELECT key, SUM(value) AS total,
             ROW_NUMBER() OVER (ORDER BY total DESC) AS rnk
      FROM stream GROUP BY key) WHERE rnk <= N

whose result set both grows and SHRINKS (a key updated elsewhere can
push another key out of the Top-N), so append-mode output cannot
express it — this is exactly the query class Spark's built-in
Structured Streaming refuses (update/complete mode cannot feed a
downstream file sink transactionally). The Spark-first equivalent:

  per micro-batch k (foreachBatch, batch_commit protocol):
    1. FOLD:  state_k = state_{k-1} ⊎ per-key batch sums — one hash
              aggregate + one keyed merge, DECIMAL(25,6) accumulation
              so totals are order-free exact (the repo-wide rule for
              double aggregates);
    2. RANK:  top_k = state_k ORDER BY (total DESC, key) LIMIT N —
              Catalyst plans TakeOrderedAndProject: per-partition
              heaps, no global sort shuffle;
    3. DIFF:  ops_k = changelog(top_{k-1} -> top_k): keys entering
              emit +I; keys leaving emit -D (with their OLD row); keys
              staying whose (total, rank) changed emit -U (old row)
              then +U (new row). N x N full-outer join of two tiny
              snapshots;
    4. PUBLISH out/batch_id=k + state/batch-k + top/batch-k.

A downstream consumer that applies the changelog in (batch_id, op)
order materializes exactly the batch Top-N — pinned by replaying the
log in tests. Determinism: given the drop boundaries, ops are a pure
function of per-batch cumulative sums, so the DuckDB oracle rebuilds
per-batch ranked snapshots and diffs consecutive ones with no
streaming machinery.

At 100 TB: the fold shuffles one row per distinct key in the batch and
merges against O(live keys) state; the rank is a TakeOrdered scan of
the state (no shuffle); the diff is O(N). What this deliberately does
NOT do is keep the full sorted history or re-read the input stream —
state is (key, total), exactly Flink's ValueState per key.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from flink_kafka_table_api_spark.streaming.batch_commit import (
    BatchCommit,
    Publish,
    batch_dir,
    overwrite,
    partition_dir,
    read_version,
)
from flink_kafka_table_api_spark.streaming.late_data import stage_chunked_by

ROWS_COLUMNS = ["row_id", "key", "value"]
STATE_SCHEMA = "key long, total decimal(25,6)"
TOP_SCHEMA = "key long, total decimal(25,6), rnk int"
OUT_SCHEMA = "op string, key long, total double, rnk int"


def _batch_sums(batch: DataFrame) -> DataFrame:
    return batch.groupBy("key").agg(
        F.sum(F.col("value").cast("decimal(25,6)")).alias("total")
    )


def _fold(prev: DataFrame, sums: DataFrame) -> DataFrame:
    return (
        prev.unionByName(sums)
        .groupBy("key")
        .agg(F.sum("total").cast("decimal(25,6)").alias("total"))
    )


def _topn(state: DataFrame, n: int) -> DataFrame:
    # orderBy().limit() -> TakeOrderedAndProject: per-partition heaps,
    # no global sort; ties broken by key for determinism
    ranked = state.orderBy(F.col("total").desc(), F.col("key")).limit(n)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("total").desc(), F.col("key"))
    # the window runs over <= n pre-limited rows — single tiny partition
    return ranked.select(
        "key", "total", F.row_number().over(w).cast("int").alias("rnk")
    )


def rowkind_diff(
    old: DataFrame, new: DataFrame, key: str, cols: Sequence[str]
) -> DataFrame:
    """RowKind changelog (op, `key`, *`cols`) from snapshot `old` to
    snapshot `new`, one row per `key` on each side: +I for entering
    keys, -D for leaving keys (old row), -U (old row) then +U (new row)
    for staying keys whose `cols` changed. DECIMAL columns leave as
    DOUBLE. One full outer join; the Spark twin of
    ``queries._rowkind_diff_sql``."""
    def side(df: DataFrame, s: str) -> DataFrame:
        return df.select(
            F.col(key).alias("__k"), F.lit(True).alias(f"__{s}"),
            *[F.col(c).alias(f"__{s}_{c}") for c in cols],
        )

    j = side(old, "o").join(side(new, "n"), "__k", "full_outer")
    dec = {
        f.name for f in new.schema.fields
        if isinstance(f.dataType, DecimalType)
    }

    def emit(op: str, s: str, cond) -> DataFrame:
        return j.filter(cond).select(
            F.lit(op).alias("op"), F.col("__k").alias(key),
            *[
                (F.col(f"__{s}_{c}").cast("double") if c in dec
                 else F.col(f"__{s}_{c}")).alias(c)
                for c in cols
            ],
        )

    changed = (
        F.col("__o").isNotNull() & F.col("__n").isNotNull()
        & reduce(
            lambda a, b: a | b,
            [F.col(f"__o_{c}") != F.col(f"__n_{c}") for c in cols],
        )
    )
    return (
        emit("+I", "n", F.col("__o").isNull())
        .unionByName(emit("-D", "o", F.col("__n").isNull()))
        .unionByName(emit("-U", "o", changed))
        .unionByName(emit("+U", "n", changed))
    )


def stream_topn_retract(
    spark: SparkSession,
    rows_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    n: int,
    chunk_col: str = "__chunk",
) -> DataFrame:
    """Maintain `SELECT key, SUM(value) GROUP BY key ORDER BY total
    DESC LIMIT n` over `rows_chunked` (row_id, key, value,
    `chunk_col`) delivered as `n_chunks` micro-batch drops, emitting
    the RowKind changelog of the Top-N result per batch. Returns the
    full retract log (batch_id, op in {+I,-U,+U,-D}, key, total, rnk);
    applying it in (batch_id, op) order materializes the final batch
    Top-N exactly."""
    src = stage_chunked_by(
        rows_chunked, os.path.join(state_dir, "src"),
        chunk_col=chunk_col, n_chunks=n_chunks, columns=ROWS_COLUMNS,
    )
    state = os.path.join(state_dir, "state")
    top = os.path.join(state_dir, "top")
    out = os.path.join(state_dir, "out")
    commit = BatchCommit(
        state_dir, scoped=(state, top), partitioned=(out,),
        versioned=(state, top),
    )

    def process(batch: DataFrame, batch_id: int) -> Publish:
        # the old shape wrote state, read it back, wrote top, read THAT
        # back, then wrote the diff — three serialized jobs with two
        # parquet round-trips. The persisted frames carry the identical
        # rows (a parquet round-trip is value-preserving), so all three
        # publishes are independent DAGs to DISTINCT paths.
        merged = _fold(
            read_version(spark, state, batch_id - 1, STATE_SCHEMA),
            _batch_sums(batch),
        ).persist()
        new_top = _topn(merged, n).persist()
        prev_top = read_version(spark, top, batch_id - 1, TOP_SCHEMA)
        return Publish([
            overwrite(merged, batch_dir(state, batch_id)),
            overwrite(new_top, batch_dir(top, batch_id)),
            overwrite(
                rowkind_diff(prev_top, new_top, "key", ("total", "rnk")),
                partition_dir(out, batch_id),
            ),
        ], release=[merged, new_top])

    return commit.drain(
        spark, src, "row_id long, key long, value double", process,
        out, OUT_SCHEMA + ", batch_id long",
    ).select("op", "key", "total", "rnk", "batch_id")


def apply_changelog(log: DataFrame, key: str = "key") -> DataFrame:
    """Materialize a RowKind changelog (op, `key`, value columns,
    batch_id) the way a CONSUMER would: the last +I/+U row per key not
    later deleted — one argmax per key over (batch_id, op kind), no
    replay loop. Within a batch a -U precedes its +U. Returns `key` and
    the value columns."""
    cols = [c for c in log.columns if c not in ("op", key, "batch_id")]
    last = log.groupBy(key).agg(
        F.max_by(
            F.struct("op", *cols),
            F.struct(
                F.col("batch_id"),
                F.col("op").isin("+I", "+U").cast("int"),
            ),
        ).alias("w")
    )
    return (
        last.filter(F.col("w.op").isin("+I", "+U"))
        .select(key, *[f"w.{c}" for c in cols])
    )


__all__ = [
    "stream_topn_retract", "rowkind_diff", "apply_changelog",
]
