"""The exactly-once micro-batch commit protocol shared by every
foreachBatch pipeline in this package, and the bounded drain that runs
them.

Structured Streaming (SIGMOD 2018) gets end-to-end exactly-once from an
offset write-ahead log plus sinks that are idempotent per epoch. Spark's
checkpoint is the log: after a crash it replays the interrupted
micro-batch under the same batch id. This module is the sink half: a
batch publishes only batch-scoped outputs and writes ONE marker file
last, so a marker means "committed, a replay is a no-op", and no marker
means "anything on disk for this batch is partial: scrub and recompute
from identical inputs".

Per batch N, :meth:`BatchCommit.run`:

  1. SKIP     if ``<marker_dir>/batch-N`` exists;
  2. SCRUB    ``<dir>/batch-N`` of every scoped dir and
              ``<dir>/batch_id=N`` of every partitioned dir;
  3. BODY     computes the batch from the previous batch's carried state
              (:func:`read_version`) and JSON sidecar
              (:meth:`BatchCommit.meta`), both typed empty when missing,
              and returns a :class:`Publish`;
  4. PUBLISH  its writes through ``late_data.run_concurrently``, then the
              sidecar ``<meta_dir>/batch-N.json``;
  5. MARKER   ``<marker_dir>/batch-N``, last;
  6. PRUNE    every ``batch-M`` of each versioned dir older than the
              newest ``KEEP_VERSIONS`` — on the SKIP path too, so a crash
              between the marker and the prune leaves nothing behind.

Everything a batch writes is named ``batch-N``, ``batch-N.json``,
``batch_id=N`` or (the end-of-input flush marker) ``batch-N-flush``;
``reprocess.reset_from`` deletes by exactly that rule (:data:`BATCH_NAME`).

Storage goes through plain ``os``/``shutil``. That keeps the protocol
valid on local and POSIX paths, where a file create is visible at once
and a directory removal is final; it is NOT valid on HDFS or object
stores such as S3. Moving to Hadoop FileSystem calls is a change to this
module alone.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from flink_kafka_table_api_spark.caching import replan_cached_plans
from flink_kafka_table_api_spark.streaming.late_data import run_concurrently

# carried-state versions kept per versioned dir; read at prune time
KEEP_VERSIONS = 3
# the marker dir under a pipeline's state_dir
MARKER_DIR = "commits"

BATCH_NAME = re.compile(r"^batch(?:-(-?\d+)(?:\.json|-flush)?|_id=(\d+))$")


def batch_number(name: str) -> int | None:
    """N for a name the protocol writes for batch N, else None."""
    m = BATCH_NAME.match(name)
    return None if m is None else int(m.group(1) or m.group(2))


def batch_dir(base: str, batch_id) -> str:
    return os.path.join(base, f"batch-{batch_id}")


def partition_dir(base: str, batch_id) -> str:
    return os.path.join(base, f"batch_id={batch_id}")


def overwrite(df: DataFrame, path: str) -> Callable[[], None]:
    """A publish thunk that overwrites `path` with `df`."""
    return lambda: df.write.mode("overwrite").parquet(path)


def has_data(path: str) -> bool:
    """True iff a parquet data file exists under `path` (an all-empty
    batch can leave a directory holding only ``_SUCCESS``)."""
    for _root, _dirs, files in os.walk(path):
        if any(
            f.endswith(".parquet") and not f.startswith(("_", "."))
            for f in files
        ):
            return True
    return False


def read_version(
    spark: SparkSession, base: str, batch_id: int, schema
) -> DataFrame:
    """Carried state ``<base>/batch-<batch_id>`` read with `schema`, or
    a typed empty frame when that version does not exist."""
    p = batch_dir(base, batch_id)
    if not os.path.isdir(p):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(p)


def read_back(spark: SparkSession, path: str, schema) -> DataFrame:
    """Every batch published under `path` — ``batch-N`` dirs read
    recursively, ``batch_id=N`` dirs with ``batch_id`` as a partition
    column — or a typed empty frame when nothing was published."""
    if not has_data(path):
        return spark.createDataFrame([], schema)
    reader = spark.read.schema(schema)
    if any(e.name.startswith("batch_id=") for e in os.scandir(path)):
        return reader.parquet(path)
    return reader.option("recursiveFileLookup", "true").parquet(path)


class Publish(NamedTuple):
    """A batch body's result: the write thunks (run concurrently, each to
    a distinct batch-scoped path), the JSON sidecar (None for none, or a
    callable evaluated after the writes, for values observed by them)
    and the persisted frames to release once the writes finished."""

    writes: Sequence[Callable[[], None]]
    meta: dict | Callable[[], dict] | None = None
    release: Sequence[DataFrame] = ()


def _publish(writes: Sequence[Callable[[], None]]) -> None:
    if writes:
        run_concurrently(*writes)


def _write_marker(path: str) -> None:
    open(path, "w").close()


def _prune(versioned: Sequence[str], batch_id: int) -> None:
    floor = batch_id - KEEP_VERSIONS
    for d in versioned:
        if not os.path.isdir(d):
            continue
        for e in os.scandir(d):
            n = batch_number(e.name) if e.name.startswith("batch-") else None
            if n is not None and n <= floor:
                shutil.rmtree(e.path, ignore_errors=True)


class BatchCommit:
    """The commit protocol for one pipeline's state under `state_dir`.

    `scoped` dirs hold ``batch-N`` outputs and `partitioned` dirs hold
    ``batch_id=N`` outputs (both scrubbed before a recompute);
    `versioned` dirs hold carried-state versions (pruned to
    KEEP_VERSIONS); `meta_dir` holds the JSON sidecars. The marker dir
    defaults to ``<state_dir>/commits``; `after` is a cleanup run after
    each commit (and on replays of committed batches)."""

    def __init__(
        self,
        state_dir: str,
        *,
        scoped: Sequence[str] = (),
        partitioned: Sequence[str] = (),
        versioned: Sequence[str] = (),
        meta_dir: str | None = None,
        marker_dir: str | None = None,
        after: Callable[[int], None] | None = None,
    ) -> None:
        self.ckpt = os.path.join(state_dir, "ckpt")
        self.marker_dir = marker_dir or os.path.join(state_dir, MARKER_DIR)
        self.scoped = scoped
        self.partitioned = partitioned
        self.versioned = versioned
        self.meta_dir = meta_dir
        self.after = after

    def committed(self, batch_id: int) -> bool:
        return os.path.exists(batch_dir(self.marker_dir, batch_id))

    def last(self) -> int:
        """The newest committed batch id (-1 before the first)."""
        names = (
            os.listdir(self.marker_dir)
            if os.path.isdir(self.marker_dir) else []
        )
        return max(
            (int(n[len("batch-"):]) for n in names
             if re.fullmatch(r"batch-\d+", n)),
            default=-1,
        )

    def meta(self, batch_id: int, default: dict) -> dict:
        """Batch `batch_id`'s JSON sidecar, or `default` when absent."""
        p = os.path.join(self.meta_dir, f"batch-{batch_id}.json")
        if not os.path.exists(p):
            return default
        with open(p) as f:
            return json.load(f)

    def write_meta(self, batch_id: int, meta: dict) -> None:
        os.makedirs(self.meta_dir, exist_ok=True)
        with open(
            os.path.join(self.meta_dir, f"batch-{batch_id}.json"), "w"
        ) as f:
            json.dump(meta, f)

    def run(
        self, batch_id: int, body: Callable[[], Publish], suffix: str = ""
    ) -> None:
        """Commit batch `batch_id` once: `body` runs only when its marker
        (``batch-<batch_id><suffix>``) is absent."""
        marker = batch_dir(self.marker_dir, f"{batch_id}{suffix}")
        if not os.path.exists(marker):
            for d in self.scoped:
                shutil.rmtree(batch_dir(d, batch_id), ignore_errors=True)
            for d in self.partitioned:
                shutil.rmtree(partition_dir(d, batch_id), ignore_errors=True)
            pub = body()
            try:
                _publish(pub.writes)
            finally:
                for df in pub.release:
                    df.unpersist()
            if pub.meta is not None:
                self.write_meta(
                    batch_id, pub.meta() if callable(pub.meta) else pub.meta
                )
            os.makedirs(self.marker_dir, exist_ok=True)
            _write_marker(marker)
        _prune(self.versioned, batch_id)
        if self.after is not None:
            self.after(batch_id)

    def drain(
        self,
        spark: SparkSession,
        src: str,
        schema,
        body: Callable[[DataFrame, int], Publish],
        out: str | None = None,
        out_schema=None,
    ) -> DataFrame | None:
        """Run `body` under the protocol over every staged file in `src`,
        one file per micro-batch, to the end of the backlog; then return
        ``read_back(out)`` (None when `out` is None)."""
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        with replan_cached_plans(spark):
            (
                stream.writeStream.foreachBatch(
                    lambda batch, i: self.run(i, lambda: body(batch, i))
                )
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        return None if out is None else read_back(spark, out, out_schema)
