"""Incremental materialized view: keyed UPSERT sink via foreachBatch.

The pattern every streaming pipeline without a transactional table format
(Delta/Iceberg) needs: maintain a keyed result table in plain parquet,
merging each micro-batch's updates, idempotently across batch replays.

Semantics:
- state table = one row per key, latest values win;
- each batch: read current table, anti-join out the updated keys, union the
  batch's rows, atomic swap (write tmp -> rename);
- idempotence: a replayed batch (same batchId after checkpoint recovery)
  is skipped via the batch_commit marker (``<table>__commits/batch-N``) —
  the manual version of the transaction log Delta would provide.

Scale note: rewrite cost is O(table) per batch, which is right for
aggregate/materialized-view sized outputs (the common case: the HEAVY data
stays in the stream; the view is compact). For 100 TB mutable tables use a
partitioned rewrite (only partitions containing updated keys) or a real
table format — the foreachBatch hook is identical either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from flink_kafka_table_api_spark.streaming.batch_commit import (
    BatchCommit,
    Publish,
)


def latest_per_key(
    batch_df: DataFrame,
    key_cols: tuple[str, ...],
    order_col: str | None,
) -> DataFrame:
    """Within-batch conflict resolution: one winning row per key.

    With ``order_col``, the greatest order value wins; equal order values
    (CDC updates with identical timestamps) fall through to a content-hash
    tiebreaker over the non-key columns so the pick is deterministic rather
    than partition-order-dependent. Without ``order_col``, an arbitrary row
    is kept (valid only when batches carry one row per key).
    """
    if order_col is None:
        return batch_df.dropDuplicates(list(key_cols))
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    value_cols = [
        c for c in batch_df.columns if c not in key_cols and c != order_col
    ]
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(order_col).desc(),
        *([F.xxhash64(*value_cols).desc()] if value_cols else []),
    )
    return (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_to_parquet(
    updates: DataFrame,
    table_path: str,
    key_cols: tuple[str, ...],
    *,
    checkpoint_dir: str,
    query_name: str = "upsert_view",
    order_col: str | None = None,
) -> StreamingQuery:
    """Start a foreachBatch UPSERT of a (possibly update-mode) streaming
    DataFrame into a parquet state table keyed by ``key_cols``.

    Within-batch conflict rule: streaming-aggregation output carries at
    most one row per key per batch, so no ordering is needed (the default).
    For CDC-style update streams that can carry several updates for one key
    in a batch, pass ``order_col`` (an event-time/sequence column) — the
    row with the greatest ``order_col`` wins; ties in ``order_col`` (two
    updates for one key with equal timestamps) are broken by a content hash
    over the remaining columns, so the merged table is deterministic across
    replays and partitionings even then. Without ``order_col``,
    dropDuplicates keeps an ARBITRARY row, which is only correct under the
    one-row-per-key-per-batch contract."""
    spark = updates.sparkSession
    commit = BatchCommit(checkpoint_dir, marker_dir=table_path + "__commits")

    def swap(batch: DataFrame) -> None:
        jvm = spark._jvm
        dst = jvm.org.apache.hadoop.fs.Path(table_path)
        fs = dst.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(dst):
            current = spark.read.parquet(table_path)
            keys = batch.select(*key_cols)
            kept = current.join(keys, list(key_cols), "left_anti")
            merged = kept.unionByName(batch)
        else:
            merged = batch
        tmp = table_path + "__tmp"
        merged.write.mode("overwrite").parquet(tmp)
        # swap: move the old table aside, then the new one in. Hadoop FS
        # rename reports failure via its boolean — fail the batch on false
        # (no marker is written, so recovery replays it).
        old = jvm.org.apache.hadoop.fs.Path(table_path + "__old")
        fs.delete(old, True)
        if fs.exists(dst) and not fs.rename(dst, old):
            raise IOError(f"upsert: rename {table_path} aside failed")
        if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), dst):
            fs.rename(old, dst)  # best-effort restore
            raise IOError(f"upsert: rename {tmp} -> {table_path} failed")
        fs.delete(old, True)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = latest_per_key(batch_df, key_cols, order_col)
        commit.run(batch_id, lambda: Publish([lambda: swap(batch)]))

    return (
        updates.writeStream.foreachBatch(merge_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
