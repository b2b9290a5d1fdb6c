"""Job lifecycle parity (SURVEY.md §2.1 O10, O12, O13).

Reference surface: executeInsert -> TableResult.await()
(reference TransactionProcessor.java:192, 215-223), TableResult.collect()
(reference TransactionFlinkTest.java:153-165), JobClient.cancel()
(reference TransactionFlinkTest.java:64-76).

Spark mapping: StreamingQuery.awaitTermination / .stop; deterministic result
collection replaces the reference's sleep-and-hope consumer test
(reference TransactionConsumerTest.java:60 sleeps 30s then weakens its
assertion) with processAllAvailable() + a memory sink — no wall-clock races.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.streaming import StreamingQuery


def start_memory_sink(
    df: DataFrame, query_name: str, *, output_mode: str = "append"
) -> StreamingQuery:
    """Attach an in-memory table sink (the deterministic analog of the
    reference's collect() iterator — O12)."""
    return (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .start()
    )


def collect_stream(
    spark: SparkSession, query: StreamingQuery, query_name: str
) -> list[Row]:
    """Drain all currently-available input, then read the sink table.
    Deterministic: processAllAvailable blocks until the sink has everything
    the sources can currently serve."""
    query.processAllAvailable()
    return spark.table(query_name).collect()


def cancel(query: StreamingQuery) -> None:
    """O13: cooperative cancel (reference TransactionFlinkTest.java:64-76)."""
    query.stop()
