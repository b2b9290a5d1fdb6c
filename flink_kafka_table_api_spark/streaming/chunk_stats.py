"""Staging-time chunk statistics for the foreachBatch operator family.

Every foreachBatch operator in this package pays one or more per-batch
``batch.agg(...).first()`` / ``batch.groupBy(k).agg(...).collect()``
driver jobs whose value is a PURE FUNCTION of the staged chunk file's
contents (the watermark-advance maximum, per-source maxima, batch-0
min/max). Each such job costs a fixed ~150 ms launch regardless of data
volume (guide §1.2: the streaming family is fixed-cost bound, not
compute bound), and the family replays 3-20 micro-batches per run.

:class:`ChunkStats` computes all of them in ONE grouped aggregate over
the staged directory at staging time; the per-batch loop resolves its
batch's files through the file-source checkpoint log — written by Spark
itself when it plans the batch, before ``foreachBatch`` runs — and
combines the per-file rows driver-side. Per operator run that turns
n_batches fixed-cost jobs into one.

Correctness posture:

- The stats job reads the staged files with the SAME explicit schema the
  streaming source declares, so values are bit-identical to what the
  micro-batch DataFrame would aggregate to.
- The file→batch mapping comes from ``<ckpt>/sources/0/<batch_id>`` (or
  its compacted ``<batch_id>.compact``), the FileStreamSource's own
  metadata log — the authoritative record of
  which files make up a batch (never an assumption that batch k == chunk
  k).
- :meth:`ChunkStats.for_batch` returns ``None`` whenever the log is
  absent or names a file it has no entry for; callers then fall back to
  the original in-batch aggregate. Correctness never depends on the
  sidecar resolving.

At 100 TB the same shape holds: a daily drop's admission statistics ride
the (unavoidable) staging pass instead of launching one scan per
micro-batch over data that was just written.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


class ChunkStats:
    """Per-staged-file aggregates, computed in one Spark job.

    Parameters
    ----------
    spark, src_dir : the staged chunk directory (``stage_chunked_by``
        output: flat ``*.parquet`` files).
    schema : the exact schema the streaming source declares for the same
        directory (string DDL or StructType), or None when the consumer
        reads the staged files with schema inference (the stats read
        then infers identically).
    aggs : mapping of result-field name -> aggregate Column, evaluated
        per file (and per ``keys`` group when given).
    keys : optional grouping columns inside each file (e.g. ``["source"]``
        for per-source maxima).
    """

    def __init__(
        self,
        spark: SparkSession,
        src_dir: str,
        schema,
        aggs: dict[str, Column],
        *,
        keys: tuple[str, ...] = (),
    ) -> None:
        # every staged data file is pre-registered as 'known, no rows' so
        # an EMPTY chunk resolves to [] (matching an empty batch's
        # aggregate) instead of falling back
        self.by_file: dict[str, list[dict[str, Any]]] = {
            e.name: []
            for e in os.scandir(src_dir)
            if e.is_file() and e.name.endswith(".parquet")
        }
        reader = spark.read if schema is None else spark.read.schema(schema)
        rows = (
            reader.parquet(src_dir)
            .groupBy(F.input_file_name().alias("__file"), *keys)
            .agg(*[v.alias(k) for k, v in aggs.items()])
            .collect()
        )
        for r in rows:
            d = r.asDict()
            name = os.path.basename(d.pop("__file"))
            self.by_file.setdefault(name, []).append(d)

    def for_batch(
        self, ckpt_dir: str, batch_id: int
    ) -> list[dict[str, Any]] | None:
        """Stat rows for micro-batch ``batch_id`` (flattened across its
        files), or ``None`` when the batch's files cannot all be
        resolved — the caller must then aggregate the batch itself."""
        entries = _source_log(ckpt_dir, batch_id)
        if entries is None:
            return None
        out: list[dict[str, Any]] = []
        for e in entries:
            name = os.path.basename(e["path"])
            if name not in self.by_file:
                return None
            out.extend(self.by_file[name])
        return out

    def for_file(self, name: str) -> list[dict[str, Any]] | None:
        """Stat rows for one staged file by basename — for operators
        that read their chunk files directly (path constructed from the
        batch id in the operator itself) instead of through a streaming
        source. ``None`` when the file is unknown."""
        return self.by_file.get(name)


def _source_log(ckpt_dir: str, batch_id: int) -> list[dict] | None:
    """The file entries of batch ``batch_id`` in the file source's
    metadata log, or None when the log does not record it. Spark
    compacts the log every ``fileSource.log.compactInterval`` batches
    (default 10): batch N is then written only as ``N.compact``, which
    lists the files of every batch up to N, each with its ``batchId``."""
    base = os.path.join(ckpt_dir, "sources", "0")
    for name, only in ((str(batch_id), False), (f"{batch_id}.compact", True)):
        try:
            with open(os.path.join(base, name)) as f:
                lines = f.read().splitlines()
        except OSError:
            continue
        # line 0 is the log version header
        entries = [json.loads(ln) for ln in lines[1:] if ln.strip()]
        return [
            e for e in entries if not only or e.get("batchId") == batch_id
        ]
    return None


def stat_max(rows: list[dict[str, Any]], field: str):
    """Max of ``field`` across per-file stat rows, None-safe: an empty
    chunk contributes no rows, an all-NULL column aggregates to None —
    both collapse to None exactly like ``agg(F.max(...))`` over an empty
    or all-NULL batch."""
    vals = [r[field] for r in rows if r[field] is not None]
    return max(vals) if vals else None


def stat_min(rows: list[dict[str, Any]], field: str):
    """Min twin of :func:`stat_max`."""
    vals = [r[field] for r in rows if r[field] is not None]
    return min(vals) if vals else None


def stat_range(rows: list[dict[str, Any]], lo: str, hi: str):
    """``(min of lo, max of hi)`` across per-file stat rows, each None
    exactly where :func:`stat_min` / :func:`stat_max` would be."""
    return stat_min(rows, lo), stat_max(rows, hi)


def stat_group_max(
    rows: list[dict[str, Any]], key: str, field: str
) -> dict[Any, Any]:
    """Per-key maxima across per-file stat rows (the
    ``groupBy(key).agg(max(field))`` shape): keys whose values are all
    NULL are omitted, matching the grouped aggregate + None-filter the
    callers apply."""
    out: dict[Any, Any] = {}
    for r in rows:
        v = r[field]
        if v is None:
            continue
        k = r[key]
        out[k] = v if k not in out or v > out[k] else out[k]
    return out
