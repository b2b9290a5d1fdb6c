"""Streaming ANN index ingest.

The batch ANN family (operators/similarity.py) already materializes an
IVF inverted file — parquet partitioned by coarse cluster — and
`ivf_append` adds a delta without rewriting the index. What a
continuously-crawled corpus needs on top is the STREAMING wrapper: new
embedding drops arrive as micro-batches, each batch is assigned and
published into the index exactly once (crash-safe, replay-idempotent),
and the index stays queryable with partition pruning the whole time.
This is the Spark-first shape of the reference's continuous-insert
lifecycle (TransactionProcessor.java:192,215-223) applied to the
vector-index sink instead of a Kafka topic.

Per micro-batch k (foreachBatch, batch_commit protocol — the
index/batch_id=k scrub means a mid-batch crash never double-publishes):

  1. ASSIGN:  nearest-centroid coarse quantization of the BATCH ONLY
              (broadcast of the tiny fixed centroid table — identical
              expression to the batch `ivf_assign`, so incremental
              assignment is bit-equal to a one-shot build);
  2. PUBLISH: append the assigned batch (plus the int8-quantized `qe`
              column, matching `ivf_build_index`'s layout) partitioned
              by (batch_id, cluster); existing files are never touched.

Because assignment is a stateless per-row function of fixed centroids,
the accumulated index is equal (as a rowset) to `ivf_build_index` over
the union of all drops — the strongest incremental==batch claim in the
streaming family, and the tests pin it bit-for-bit. Centroids stay
fixed across the stream (the faiss train-then-add posture); retraining
is a policy-triggered full rebuild, never a per-batch cost.

Query path: route the query vector to its nprobe nearest centroids
DRIVER-side (k rows), then scan the index with a `cluster IN (...)`
filter — partition pruning applies per-column, so the scan touches only
the probed clusters' directories across ALL batch_id partitions
(PartitionFilters pinned in tests/test_stream_ann_ingest.py).

At 100 TB: per-batch cost is O(|batch| * k_centroids) assignment plus a
write that touches only the batch's own partition dirs; the index is
just a partitioned table whose per-query read is nprobe/k of the rows;
exactly-once is batch-granular via batch_commit (id-level upsert
semantics belong to streaming/cdc_apply.py, not the append-only index).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.functions.portable import dec_sum
from flink_kafka_table_api_spark.functions.vector import (
    as_double_array,
    cosine,
)
from flink_kafka_table_api_spark.operators import similarity as sim
from flink_kafka_table_api_spark.streaming.batch_commit import (
    BatchCommit,
    Publish,
    has_data,
)
from flink_kafka_table_api_spark.streaming.late_data import stage_chunked_by

VEC_COLUMNS = ["vec_id", "embedding"]


def assign_with_distance(
    vectors: DataFrame, cents: DataFrame
) -> DataFrame:
    """ivf_assign plus the winning distance in the SAME aggregate:
    (vec_id, cluster, dist) where dist = round(1 - cos(v, centroid), 6)
    of the assigned centroid. The per-batch DECIMAL sum of dist is the
    centroid-drift signal ("when to retrain"): a corpus drifting away
    from the fixed coarse centroids shows up as a rising mean
    quantization error per drop — a measured rebuild trigger instead of
    a guess (the faiss train-then-add posture's missing feedback
    loop)."""
    scored = vectors.crossJoin(F.broadcast(cents)).withColumn(
        "__dist",
        1 - cosine(as_double_array("embedding"),
                   as_double_array("c_embedding")),
    )
    # argmin on the UNROUNDED distance — identical to ivf_assign, so the
    # index stays bit-equal to a batch build; round only the reported
    # distance (after the min, so rounding can never flip the argmin).
    # The embedding rides the aggregate (functionally dependent on
    # vec_id, so first() is exact): the index write used to join this
    # result BACK to the batch on vec_id just to reattach the embedding
    # — a second per-batch shuffle join for a column the aggregate can
    # carry for free (guide §2.2: shuffle once, not twice).
    return scored.groupBy("vec_id").agg(
        F.min_by("c_id", F.col("__dist")).alias("cluster"),
        F.round(F.min("__dist"), 6).alias("dist"),
        F.first("embedding").alias("embedding"),
    )


def stream_ann_ingest(
    spark: SparkSession,
    vectors_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    centroids: DataFrame,
    chunk_col: str = "__chunk",
    nprobe: int = 1,
    k: int = 10,
    query: DataFrame | None = None,
) -> DataFrame:
    """Ingest `vectors_chunked` (vec_id, embedding, `chunk_col`) as
    `n_chunks` micro-batch drops into a cluster-partitioned IVF index
    under `state_dir`, then answer one top-`k` cosine query against the
    accumulated index (`query`: single row with q_embedding; defaults to
    the vec_id=0 embedding). Returns tagged rows:

      ('topk', vec_id, score)   — the pruned exact re-rank, nprobe
                                  clusters scanned, portable cosine;
      ('n_indexed', n, NULL)    — rowcount conservation across every
                                  published batch.

    Deterministic given the drop boundaries and centroids — the DuckDB
    oracle replays assignment + routing + re-rank with no streaming
    machinery (see tests/test_stream_ann_ingest.py::ORACLE_SQL)."""
    cents = centroids.select(
        F.col(centroids.columns[0]).alias("c_id"),
        F.col(centroids.columns[1]).alias("c_embedding"),
    ).persist()
    cents.count()  # materialize once; every batch broadcasts this
    if query is None:
        query = vectors_chunked.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("q_embedding")
        )
    query = query.persist()
    query.count()

    src = stage_chunked_by(
        vectors_chunked, os.path.join(state_dir, "src"),
        chunk_col=chunk_col, n_chunks=n_chunks, columns=VEC_COLUMNS,
    )
    index = os.path.join(state_dir, "index")
    metrics = os.path.join(state_dir, "metrics")
    commit = BatchCommit(state_dir, partitioned=(index, metrics))

    def process(batch: DataFrame, batch_id: int) -> Publish:
        assign = assign_with_distance(batch, cents).persist()
        # index + drift-metric publishes are independent DAGs over the
        # persisted assignment. The drift partial is ONE tiny row per
        # batch — exact decimal sum of the per-vector quantization error
        # (order-insensitive, so the oracle replays it bit-for-bit).
        return Publish([
            lambda: assign.select("vec_id", "embedding", "cluster")
            .withColumn("qe", sim.int8_quantize("embedding")
                        .cast("array<tinyint>"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("batch_id", "cluster")
            .parquet(index),
            lambda: assign.agg(
                F.count("*").cast("long").alias("n"),
                dec_sum("dist", "err_sum"),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(metrics),
        ], release=[assign])

    commit.drain(
        spark, src, "vec_id long, embedding array<float>", process
    )
    # an all-empty stream publishes markers but no partition dirs; an
    # index with no files is an empty result, not a read error
    if not has_data(index):
        return spark.createDataFrame(
            [], "block string, vec_id long, score double"
        )
    qclusters = sim.ivf_route(cents, query, nprobe=nprobe)
    topk = (
        sim.ivf_topk_indexed(spark, index, qclusters, query, k=k)
        .select(
            F.lit("topk").alias("block"),
            F.col("vec_id"),
            F.col("cosine_sim").alias("score"),
        )
    )
    n_indexed = spark.read.parquet(index).agg(
        F.lit("n_indexed").alias("block"),
        F.count("*").cast("long").alias("vec_id"),
        F.lit(None).cast("double").alias("score"),
    )
    # per-drop centroid-drift rows: the measured rebuild trigger
    drift = spark.read.parquet(metrics).select(
        F.lit("drift").alias("block"),
        F.col("batch_id").cast("long").alias("vec_id"),
        F.col("err_sum").alias("score"),
    )
    return topk.unionByName(n_indexed).unionByName(drift)


__all__ = ["stream_ann_ingest", "assign_with_distance", "stage_chunked_by"]
