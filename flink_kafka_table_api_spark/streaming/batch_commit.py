"""The exactly-once micro-batch commit protocol shared by every
foreachBatch pipeline in this package, the bounded drain that runs
them, and the one owner of their on-disk state layout.

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
  6. PRUNE    every version of each versioned dir older than the newest
              ``KEEP_VERSIONS`` — on the SKIP path too, so a crash
              between the marker and the prune leaves nothing behind.

A pipeline keeps its state under `state_dir` in this layout:

  commits/batch-N        the marker, written LAST (``batch-N-flush``
                         for the end-of-input flush)
  offsets/batch-N.json   the JSON sidecar: watermark and offset scalars
  state/batch-N          versioned carried state (``batch--1`` is the
                         cdc_apply snapshot seed)
  <dir>/batch-N          batch-scoped outputs, at any depth (a nested
  <dir>/batch_id=N/      commit such as dedup/indexed/batch-N included)
  ckpt/                  the Structured Streaming checkpoint

:data:`BATCH_NAME` is that naming rule; :func:`versions` lists it,
:func:`prune` and :func:`reset_from` delete by it. Reprocessing is
therefore the inverse of the rule rather than a wipe-and-rerun: to
re-run a stream from drop K (a fixed bug, a revised threshold, a
corrupted publish), :func:`reset_from` deletes everything batches >= K
published and their markers, keeps everything before K, and drops the
checkpoint. The next availableNow run replays every drop; batches < K
hit their markers and no-op, batches >= K recompute against the
surviving prefix state, the same path crash recovery takes. The cost is
O(reprocessed drops), not a rebuild of the corpus.

Every listing, existence check, read by name and delete of a state path
in ``streaming/`` goes through this module. Storage is plain
``os``/``shutil``, valid on local and POSIX paths, where a file create
is visible at once and a directory removal is final; it is NOT valid on
HDFS or object stores such as S3, and moving to Hadoop FileSystem calls
is a change to this module. Two other modules still touch files with
``os``, neither of them state: ``late_data.stage_chunked_by`` stages the
input drops, and ``chunk_stats`` lists those staged files and reads the
checkpoint's file-source log.
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


def _entries(base: str) -> list[tuple[int, str]]:
    """(N, path) of every ``batch-N``, ``batch-N.json`` and
    ``batch_id=N`` entry directly under `base` (flush markers excluded)."""
    if not os.path.isdir(base):
        return []
    return [
        (n, e.path) for e in os.scandir(base)
        if not e.name.endswith("-flush")
        and (n := batch_number(e.name)) is not None
    ]


def versions(base: str) -> list[int]:
    """The sorted N of every version under `base` ([] when absent)."""
    return sorted(n for n, _ in _entries(base))


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        os.remove(path)


def prune(dirs: Sequence[str], floor: int) -> None:
    """Delete every version N <= `floor` of each of `dirs`."""
    for d in dirs:
        for n, path in _entries(d):
            if n <= floor:
                _remove(path)


def overwrite(df: DataFrame, path: str) -> Callable[[], None]:
    """A publish thunk that overwrites `path` with `df`."""
    return lambda: df.write.mode("overwrite").parquet(path)


def overwrite_arrow(table, path: str) -> Callable[[], None]:
    """A publish thunk that writes the driver-side Arrow `table` as the
    one data file of `path`: no Spark job, for state of a few rows."""
    def write() -> None:
        import pyarrow.parquet as pq

        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))

    return write


def _is_data(name: str) -> bool:
    return name.endswith(".parquet") and not name.startswith(("_", "."))


def read_arrow(path: str, columns: Sequence[str]) -> list:
    """The `columns` of each parquet data file directly under `path`, as
    Arrow tables read on the driver (no Spark job), in file-name order;
    [] when `path` does not exist. The read twin of
    :func:`overwrite_arrow`; it reads Spark-written versions too."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return []
    return [
        pq.read_table(e.path, columns=list(columns))
        for e in sorted(os.scandir(path), key=lambda e: e.name)
        if _is_data(e.name)
    ]


def has_data(path: str) -> bool:
    """True iff a parquet data file exists under `path` (an all-empty
    batch can leave a directory holding only ``_SUCCESS``)."""
    return any(
        any(map(_is_data, files)) for _root, _dirs, files in os.walk(path)
    )


def _empty(spark: SparkSession, schema) -> DataFrame:
    """A typed empty frame that Catalyst prunes from unions, joins and
    aggregates: ``limit(0)`` makes it an empty LocalRelation, where
    ``createDataFrame([])`` alone scans an RDD of empty partitions."""
    return spark.createDataFrame([], schema).limit(0)


def read_version(
    spark: SparkSession, base: str, batch_id: int, schema
) -> DataFrame:
    """Carried state ``<base>/batch-<batch_id>`` read with `schema`, or
    a typed empty frame when that version does not exist."""
    p = batch_dir(base, batch_id)
    if not os.path.isdir(p):
        return _empty(spark, schema)
    return spark.read.schema(schema).parquet(p)


def read_back(spark: SparkSession, path: str, schema) -> DataFrame:
    """Every batch published under `path` — ``batch-N`` dirs read
    recursively, ``batch_id=N`` dirs with ``batch_id`` as a partition
    column — or a typed empty frame when nothing was published."""
    if not has_data(path):
        return _empty(spark, schema)
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
    prune(versioned, batch_id - KEEP_VERSIONS)


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
        return max(versions(self.marker_dir), default=-1)

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


def reset_from(state_dir: str, batch_id: int) -> dict:
    """Remove every ``batch-N``, ``batch-N.json``, ``batch-N-flush`` or
    ``batch_id=N`` entry with N >= `batch_id` at any depth under
    `state_dir` (:data:`BATCH_NAME`), plus the streaming checkpoint
    ``ckpt/``, leaving batches < `batch_id` untouched. Returns
    {kind: n_removed} for auditing: markers, offsets and state count the
    top-level commits/, offsets/ and state/ entries, partitions the
    top-level ``<dir>/batch_id=N`` dirs, nested every other removal
    (``<dir>/batch-N`` outputs, nested commits)."""
    # fail fast, before any deletion: pipelines with a versioned state
    # chain (cdc_apply, temporal_join) fold batch K onto state/batch-K-1,
    # and the version prune (KEEP_VERSIONS) drops old versions —
    # resetting to a K whose basis was pruned would silently rebase the
    # tail's merge on nothing
    have = versions(os.path.join(state_dir, "state"))
    if batch_id > 0 and have and batch_id - 1 not in have:
        raise ValueError(
            f"state/batch-{batch_id - 1} (the merge basis for batch "
            f"{batch_id}) was pruned by the version tail; valid "
            f"resets are 0 (full rebuild) or >= {have[0] + 1} (whose "
            "predecessor version survives)"
        )
    removed = {"markers": 0, "offsets": 0, "state": 0,
               "partitions": 0, "nested": 0, "checkpoint": 0}
    kinds = {MARKER_DIR: "markers", "offsets": "offsets", "state": "state"}
    for root, dirs, files in os.walk(state_dir):
        rel = os.path.relpath(root, state_dir)
        if rel == ".":
            dirs[:] = [d for d in dirs if d != "ckpt"]
        for name in dirs + files:
            n = batch_number(name)
            if n is None or n < batch_id:
                continue
            _remove(os.path.join(root, name))
            if os.sep not in rel and rel in kinds:
                removed[kinds[rel]] += 1
            elif os.sep not in rel and name.startswith("batch_id="):
                removed["partitions"] += 1
            else:
                removed["nested"] += 1
        dirs[:] = [d for d in dirs if os.path.isdir(os.path.join(root, d))]
    ckpt = os.path.join(state_dir, "ckpt")
    if os.path.isdir(ckpt):
        shutil.rmtree(ckpt)
        removed["checkpoint"] = 1
    return removed
