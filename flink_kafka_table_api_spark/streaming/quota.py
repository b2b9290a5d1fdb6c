"""Streaming per-source token-budget quota enforcement.

The registered `source_token_cap` (operators/curation.py) downsamples an
over-represented source to its token allocation by re-ranking documents
in hash-of-id order — a BATCH privilege: it sees the whole corpus before
choosing. An ingest gate cannot re-rank the future. The streaming form
of the same control is FIRST-COME-FIRST-SERVED admission: documents are
admitted in delivery order until the source's consumed-token counter
reaches the budget; a document is kept iff the tokens seen before it
are under budget (the boundary document spills over, exactly the batch
twin's rule). Flink expresses this as keyed state + a value counter;
Spark-first it is a foreachBatch state machine:

  per micro-batch k (foreachBatch):
    1. ORDER:  the batch's documents per source by doc_id (drops are
               id-ordered, so (batch, doc_id) IS global id order);
    2. PREFIX: per-source running token sums BEFORE each doc (one
               window per source partition, never a global window);
    3. ADMIT:  keep iff carried_consumed + prefix_before < budget;
    4. CARRY:  consumed_k(source) = carried + sum(ALL batch tokens of
               the source) — seen, not kept: once a source crosses its
               budget every later doc drops anyway, and counting seen
               tokens is exactly the batch twin's prefix semantics;
    5. PUBLISH: kept/batch-k + consumed/batch-k under the
               batch_commit protocol.

Because drops arrive in id order, the incremental run is BIT-EQUAL to
one batch pass over the whole corpus in id order — which is the DuckDB
oracle (`stream_source_quota_sql` in queries.py). State is one row per
source (a counter), per-batch cost one keyed window over the batch.

At 100 TB: this is the shape of every ingest-side quota (per-domain
crawl budgets, per-tenant token allocations) — the counter table is
|sources| rows, the shuffle carries the batch, and admission is a
broadcast-joinable lookup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.operators.text import token_count
from flink_kafka_table_api_spark.streaming.batch_commit import (
    BatchCommit,
    Publish,
    batch_dir,
    overwrite,
    read_version,
    versions,
)
from flink_kafka_table_api_spark.streaming.late_data import stage_chunked_by

_CONSUMED_SCHEMA = "source string, consumed long"


def stream_source_quota(
    spark: SparkSession,
    docs_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    budget: int,
    chunk_col: str = "__chunk",
) -> DataFrame:
    """Enforce a per-source token budget over `docs_chunked`
    (doc_id, source, text, `chunk_col`) staged as `n_chunks` id-ordered
    micro-batch drops; return the admitted documents
    (source, doc_id, n_tokens) — bit-identical to the batch
    prefix-sum cap in doc_id order."""
    src = stage_chunked_by(
        docs_chunked, os.path.join(state_dir, "src"),
        chunk_col=chunk_col, n_chunks=n_chunks,
        columns=["doc_id", "source", "text"],
    )
    kept_dir = os.path.join(state_dir, "kept")
    consumed_dir = os.path.join(state_dir, "consumed")
    commit = BatchCommit(
        state_dir, scoped=(kept_dir, consumed_dir), versioned=(consumed_dir,)
    )

    def process(batch: DataFrame, batch_id: int) -> Publish:
        sized = batch.select(
            "source", "doc_id",
            token_count("text").cast("long").alias("n_tokens"),
        ).persist()
        carried = read_version(
            spark, consumed_dir, batch_id - 1, _CONSUMED_SCHEMA
        )
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        prefixed = sized.withColumn(
            "__before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        ).join(F.broadcast(carried), "source", "left").withColumn(
            "__carried", F.coalesce(F.col("consumed"), F.lit(0))
        )
        kept = prefixed.filter(
            F.col("__carried") + F.col("__before") < budget
        ).select("source", "doc_id", "n_tokens")
        # counter advances by tokens SEEN (the batch twin's prefix
        # semantics), not just kept
        batch_totals = sized.groupBy("source").agg(
            F.sum("n_tokens").alias("__t")
        )
        new_consumed = (
            carried.join(batch_totals, "source", "full")
            .select(
                "source",
                (F.coalesce(F.col("consumed"), F.lit(0))
                 + F.coalesce(F.col("__t"), F.lit(0))).alias("consumed"),
            )
        )
        return Publish([
            overwrite(kept, batch_dir(kept_dir, batch_id)),
            overwrite(new_consumed, batch_dir(consumed_dir, batch_id)),
        ], release=[sized])

    return commit.drain(
        spark, src, "doc_id long, source string, text string", process,
        out=kept_dir, out_schema="source string, doc_id long, n_tokens long",
    )


def load_consumed(spark: SparkSession, state_dir: str) -> DataFrame:
    """The per-source consumed-token counters after the last committed
    batch — the operational read an ingest dashboard does."""
    consumed_dir = os.path.join(state_dir, "consumed")
    vs = versions(consumed_dir)
    if not vs:
        raise FileNotFoundError(f"no consumed versions under {state_dir}")
    return read_version(spark, consumed_dir, vs[-1], _CONSUMED_SCHEMA)
