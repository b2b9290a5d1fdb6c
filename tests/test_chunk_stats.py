"""ChunkStats sidecar parity: the staging-time per-file aggregates must
equal the per-micro-batch ``batch.agg(...)`` jobs they replace, for every
edge the operators can see (empty chunk, all-NULL column, multi-source
grouping, unknown-file fallback)."""

import os

import pytest
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.streaming.chunk_stats import (
    ChunkStats,
    stat_group_max,
    stat_max,
    stat_min,
)
from flink_kafka_table_api_spark.streaming.late_data import stage_chunked_by

SCHEMA = "row_id long, ts timestamp, source string, value double"


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("chunkstats"))
    src = os.path.join(d, "src")
    rows = [
        # chunk 0: two sources
        (0, "2024-01-01 00:00:05", "a", 1.0, 0),
        (1, "2024-01-01 00:00:09", "b", 2.0, 0),
        (2, "2024-01-01 00:00:03", "a", -1.5, 0),
        # chunk 1: EMPTY (no rows at all)
        # chunk 2: single source, NULL ts rows mixed in
        (3, None, "a", 4.0, 2),
        (4, "2024-01-01 00:00:30", "a", 0.5, 2),
        # chunk 3: all-NULL ts
        (5, None, "b", 7.0, 3),
    ]
    df = spark.createDataFrame(
        [(r, ts, s, v, c) for r, ts, s, v, c in rows],
        "row_id long, ts string, source string, value double, __chunk int",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    stage_chunked_by(
        df, src, n_chunks=4, columns=["row_id", "ts", "source", "value"]
    )
    return spark, src, d


def _run_stream(spark, src, ckpt, per_batch):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_sidecar_matches_per_batch_aggregates(staged):
    spark, src, d = staged
    stats = ChunkStats(
        spark, src, SCHEMA,
        {"mx": F.max("ts"), "mn": F.min("value"), "n": F.count("*")},
    )
    ckpt = os.path.join(d, "ckpt1")
    observed = []

    def per_batch(batch, batch_id):
        observed.append(
            (
                batch_id,
                batch.agg(F.max("ts"), F.min("value"), F.count("*")).first(),
            )
        )

    _run_stream(spark, src, ckpt, per_batch)
    assert len(observed) == 4
    for batch_id, row in observed:
        rows = stats.for_batch(ckpt, batch_id)
        assert rows is not None, f"batch {batch_id} must resolve"
        assert stat_max(rows, "mx") == row[0]
        assert stat_min(rows, "mn") == row[1]
        assert sum(r["n"] for r in rows) == row[2]


def test_sidecar_grouped_matches_per_batch_grouped(staged):
    spark, src, d = staged
    stats = ChunkStats(
        spark, src, SCHEMA, {"mx": F.max("ts")}, keys=("source",)
    )
    ckpt = os.path.join(d, "ckpt2")
    observed = []

    def per_batch(batch, batch_id):
        per_src = {
            r["source"]: r["mx"]
            for r in batch.groupBy("source").agg(F.max("ts").alias("mx"))
            .collect()
            if r["mx"] is not None
        }
        observed.append((batch_id, per_src))

    _run_stream(spark, src, ckpt, per_batch)
    assert len(observed) == 4
    for batch_id, per_src in observed:
        rows = stats.for_batch(ckpt, batch_id)
        assert rows is not None
        assert stat_group_max(rows, "source", "mx") == per_src


def test_unknown_file_and_missing_log_fall_back(staged):
    spark, src, d = staged
    stats = ChunkStats(spark, src, SCHEMA, {"mx": F.max("ts")})
    # missing checkpoint log -> None
    assert stats.for_batch(os.path.join(d, "nonexistent"), 0) is None
    # a log naming an unknown file -> None (never a silent wrong answer)
    fake = os.path.join(d, "fakeckpt", "sources", "0")
    os.makedirs(fake)
    with open(os.path.join(fake, "0"), "w") as f:
        f.write('v1\n{"path":"file:///elsewhere/other.parquet"}\n')
    assert stats.for_batch(os.path.join(d, "fakeckpt"), 0) is None
    # empty chunk is KNOWN (resolves to []), not a fallback
    with open(os.path.join(fake, "1"), "w") as f:
        f.write('v1\n{"path":"file://%s/chunk0001.parquet"}\n' % src)
    assert stats.for_batch(os.path.join(d, "fakeckpt"), 1) == []
    assert stat_max([], "mx") is None


def test_compacted_source_log_resolves_every_batch(spark, tmp_path):
    """Spark compacts the file-source log every 10 batches
    (``fileSource.log.compactInterval``): batch 9 exists only as
    ``9.compact``, which lists the files of batches 0-9. Every batch of
    a 12-file drain must still resolve, to that batch's own aggregate."""
    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(i, f"2024-01-01 00:00:{i:02d}", "a", float(i), i)
         for i in range(12)],
        "row_id long, ts string, source string, value double, __chunk int",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    stage_chunked_by(
        df, src, n_chunks=12, columns=["row_id", "ts", "source", "value"]
    )
    stats = ChunkStats(
        spark, src, SCHEMA, {"mx": F.max("ts"), "n": F.count("*")}
    )
    ckpt = str(tmp_path / "ckpt")
    observed = []

    def per_batch(batch, batch_id):
        observed.append(
            (batch_id, batch.agg(F.max("ts"), F.count("*")).first())
        )

    _run_stream(spark, src, ckpt, per_batch)
    assert [b for b, _ in observed] == list(range(12))
    log = sorted(os.listdir(os.path.join(ckpt, "sources", "0")))
    assert "9.compact" in log and "9" not in log
    for batch_id, row in observed:
        rows = stats.for_batch(ckpt, batch_id)
        assert rows is not None, f"batch {batch_id} must resolve"
        assert stat_max(rows, "mx") == row[0]
        assert sum(r["n"] for r in rows) == row[1]
