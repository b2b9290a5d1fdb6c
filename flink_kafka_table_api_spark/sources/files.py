"""File sources: batch parquet (the testdata contract) and file-streaming
mode so streaming operators are testable without Kafka brokers — the same
role the reference's Testcontainers play, minus the infrastructure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_json(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """JSON-lines scan with a DECLARED schema (never inferSchema — inference
    costs an extra full pass and produces SF-dependent types)."""
    return spark.read.schema(schema).json(path)


def stream_parquet_dir(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded file-source scan of a directory of parquet files. Streaming
    file sources require a declared schema (same 'declared, not inferred'
    stance as the engine's tables — SURVEY.md §1.1)."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def write_parquet(
    df: DataFrame, path: str, *, partition_by: tuple[str, ...] = (), mode: str = "overwrite"
) -> None:
    """Batch parquet sink. ``partition_by`` is the scale lever: partition by
    the dominant filter/join key so downstream scans prune directories."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same predicate-pushdown/column-pruning story as parquet
    (both columnar; Catalyst emits PushedFilters for either)."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame, path: str, *, partition_by: tuple[str, ...] = (), mode: str = "overwrite"
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def compact(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 256 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Small-file compaction: rewrite a directory into ceil(size/target)
    files. The housekeeping op every streaming/incremental pipeline needs —
    micro-batch sinks produce one file per trigger per partition, and at
    100 TB a scan over millions of 1 MB files is metadata-bound, not
    IO-bound. Returns the output file count.

    Rewrites via repartition (round-robin, no key) — a full shuffle, but
    one that runs at most once per compaction window and restores scan
    parallelism for every query after it. In production, pair with
    partition-level atomic swap (write tmp dir + rename); here the rewrite
    is in-place-overwrite for simplicity (Spark stages to _temporary)."""
    import math

    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    size = fs.getContentSummary(jvm_path).getLength()
    n_files = max(1, math.ceil(size / target_file_bytes))
    df = spark.read.format(fmt).load(path)
    # must materialize before touching the source dir
    df.repartition(n_files).write.mode("overwrite").format(fmt).save(path + "__compact")
    # swap order matters: move the OLD dir aside first so a crash between
    # the two renames leaves the dataset reachable (at path__old), never
    # missing. Hadoop FS rename signals failure via its return value, not
    # an exception — check it or a failed swap goes unnoticed.
    old_path = spark._jvm.org.apache.hadoop.fs.Path(path + "__old")
    compact_path = spark._jvm.org.apache.hadoop.fs.Path(path + "__compact")
    fs.delete(old_path, True)
    if not fs.rename(jvm_path, old_path):
        raise IOError(f"compact: rename {path} -> {path}__old failed")
    if not fs.rename(compact_path, jvm_path):
        fs.rename(old_path, jvm_path)  # best-effort restore
        raise IOError(f"compact: rename {path}__compact -> {path} failed")
    fs.delete(old_path, True)
    return n_files
