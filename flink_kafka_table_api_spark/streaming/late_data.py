"""Watermarked LATE-data handling and the event-time clock of every
foreachBatch pipeline.

The other `stream_*` gate queries replay testdata through the streaming
engine in event-time order, so their watermark never actually drops
anything. Real crawl/event drops are NOT in order: a fraction of every
drop belongs to an earlier period (delayed collectors, retried uploads).
This module stages a bounded corpus as micro-batch files where a
deterministic slice of rows arrives one or two drops LATE, so the
watermark's admit-vs-drop behavior is exercised for real and checked
bit-for-bit against a DuckDB replay (`stream_late_events` in
queries.py).

The Spark semantics the oracle replays — pinned empirically against
Spark 4.1 (tests/test_stream_late_data.py::test_watermark_semantics_pin)
because the docs only say "late data will be dropped":

  - the watermark REPORTED for micro-batch k (and applied to state
    eviction/emission at the END of batch k) is
        W_k = max(event time over batches 0..k-1) - delay,
    i.e. watermark advancement lags arrival by ONE batch;
  - an APPEND-mode windowed aggregate emits+evicts a window in the
    first batch whose W_k >= window_end (comparator: <=, matching the
    registered stream_tumbling oracle);
  - a late row in batch k is dropped iff its window was ALREADY evicted
    (window_end <= W_{k-1}); a late row whose window is still in state
    MERGES into it — arriving one drop late is therefore harmless by
    construction (W_{k-1} lags the row's own drop), arriving two+ drops
    late crosses the eviction horizon and is dropped;
  - at availableNow termination Spark runs a final empty batch, so the
    emitted set is every window with window_end <= max(ALL event time)
    - delay (watermark stats are collected upstream of the late-row
    filter, so even dropped rows advance the watermark).

The foreachBatch pipelines replay the same rule per micro-batch with
:class:`EventClock`: admit rows above W_{k-1} (read from batch k-1's
sidecar), then advance W_k from every row SEEN in batch k. It is the
Spark twin of ``queries._admitted_sql``, the DuckDB replay of the rule.

At 100 TB this is the state contract that matters: the watermark bounds
the aggregation state to O(windows inside the lateness horizon)
regardless of corpus age, and the drop rule is deterministic — an
auditable function of drop boundaries, never of scheduler timing.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta, timezone
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.streaming.chunk_stats import (
    ChunkStats,
    stat_max,
)

_UNIT_US = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 604_800_000_000,
}


def interval_micros(delay: str) -> int:
    """Exact microsecond width of a day-time INTERVAL literal body
    ('2 days', '90 minutes', '1 day 6 hours'). Raises on calendar units
    (month/year): the streaming operators only use day-time delays, and
    only day-time arithmetic is a fixed shift of the UTC wall clock."""
    toks = delay.strip().lower().split()
    if not toks or len(toks) % 2:
        raise ValueError(f"not a '<n> <unit>' interval: {delay!r}")
    us = 0
    for i in range(0, len(toks), 2):
        unit = toks[i + 1].rstrip("s")
        if unit not in _UNIT_US:
            raise ValueError(f"unsupported interval unit in: {delay!r}")
        us += int(toks[i]) * _UNIT_US[unit]
    return us


def utc_iso(ts: datetime) -> str:
    """The ISO string of a TIMESTAMP value collected from Spark, as UTC
    wall-clock time. PySpark hands such a value to Python as a naive
    datetime in the process's LOCAL timezone, while the sidecars and the
    watermark literals are in the session timezone, which is pinned UTC."""
    return ts.astimezone(timezone.utc).replace(tzinfo=None).isoformat()


def ts_shift(ts: str, delay: str, *, sign: int = -1) -> str:
    """`CAST(TIMESTAMP '{ts}' ± INTERVAL {delay} AS STRING)` computed
    driver-side. The streaming operators call this shape once or twice
    per micro-batch for watermark arithmetic, and the spark.sql round
    trip it replaces measured ~160 ms each — pure driver gap (guide
    §1.2/§5.4). Exact equivalence: the session timezone is pinned UTC
    (session.py) and every delay is a day-time interval, so naive
    datetime arithmetic computes the same function; the output format
    replicates Spark's timestampToString (space separator, fractional
    seconds trimmed of trailing zeros, omitted when zero) — pinned
    against spark.sql itself by tests/test_ts_shift.py."""
    dt = datetime.fromisoformat(ts) + sign * timedelta(
        microseconds=interval_micros(delay)
    )
    s = dt.strftime("%Y-%m-%d %H:%M:%S")
    if dt.microsecond:
        s += ("." + f"{dt.microsecond:06d}").rstrip("0")
    return s


class Tick(NamedTuple):
    """One micro-batch of an :class:`EventClock`."""

    admitted: DataFrame  # the batch rows above W_{k-1}
    prev: Any  # W_{k-1}; None before the first row was seen
    watermark: Any  # W_k
    meta: dict  # the next sidecar fields, W_k and max_seen
    rows: list | None  # the batch's stat rows; None when unresolved


class EventClock:
    """The event-time watermark of one foreachBatch pipeline:
    ``W_k = max(col over every row SEEN through batch k) - delay``.

    The maximum seen rides the pipeline's JSON sidecar as
    ``<key>max_seen`` beside ``<key>watermark``. A batch's own maximum
    comes from a :class:`ChunkStats` built over the staged files at
    construction (one job for the whole run), resolved through the
    streaming checkpoint (``commit.ckpt``) by batch id, or by staged
    file name for pipelines that read a second input directly. Only an
    unresolvable batch pays an in-batch aggregate job.

    `delay` is a day-time INTERVAL literal for timestamp columns, or a
    number for integer event times. `aggs` adds per-file aggregates to
    the same staging job; :attr:`Tick.rows` carries them."""

    def __init__(
        self,
        spark: SparkSession,
        commit,
        src: str,
        schema,
        col: str,
        delay,
        *,
        key: str = "",
        aggs: dict | None = None,
    ) -> None:
        self.stats = ChunkStats(
            spark, src, schema, {"mx": F.max(col), **(aggs or {})}
        )
        self.commit = commit
        self.col = col
        self.delay = delay
        self.wm_key = f"{key}watermark"
        self.seen_key = f"{key}max_seen"

    def fold(self, prev: dict, mx) -> dict:
        """The sidecar fields after seeing maximum `mx` on top of the
        fields `prev`."""
        if isinstance(mx, datetime):
            mx = utc_iso(mx)
        seen = [m for m in (prev.get(self.seen_key), mx) if m is not None]
        max_seen = max(seen) if seen else None
        wm = (
            None if max_seen is None
            else ts_shift(max_seen, self.delay)
            if isinstance(self.delay, str) else max_seen - self.delay
        )
        return {self.wm_key: wm, self.seen_key: max_seen}

    def tick(
        self,
        batch: DataFrame,
        batch_id: int,
        *,
        file: str | None = None,
        admit: bool = True,
    ) -> Tick:
        """Admit `batch` against W_{k-1} (unless `admit` is False) and
        advance the clock from every row of it."""
        prev = self.commit.meta(batch_id - 1, {})
        w_prev = prev.get(self.wm_key)
        admitted = (
            batch if not admit or w_prev is None
            else batch.filter(F.col(self.col) > w_prev)
        )
        rows = (
            self.stats.for_file(file) if file is not None
            else self.stats.for_batch(self.commit.ckpt, batch_id)
        )
        mx = (
            batch.agg(F.max(self.col)).first()[0] if rows is None
            else stat_max(rows, "mx")
        )
        meta = self.fold(prev, mx)
        return Tick(admitted, w_prev, meta[self.wm_key], meta, rows)


def run_concurrently(*thunks) -> None:
    """Run independent Spark actions (typically a micro-batch's 2-3
    batch-scoped state/sink writes to DISTINCT paths) from a small
    thread pool so their tasks back-fill each other's stragglers
    (guide §2.6: actions are only sequential because driver code calls
    them sequentially). Wall cost drops from the sum of the jobs to the
    slowest one. Raises the first failure AFTER every thunk finished —
    the caller's marker-after-all-writes crash contract is preserved
    (no marker is written when any write failed)."""
    if len(thunks) == 1:
        thunks[0]()
        return
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        errs = []
        for f in futures:
            try:
                f.result()
            except BaseException as e:  # noqa: BLE001 - re-raised below
                errs.append(e)
        if errs:
            raise errs[0]


def stage_chunked_by(
    df: DataFrame, out_dir: str, *, chunk_col: str = "__chunk",
    n_chunks: int, columns: list[str],
) -> str:
    """Stage `df` as one parquet file per `chunk_col` value (0..n-1) with
    strictly increasing mtimes, so Spark's file-stream source replays
    them as deterministic micro-batches in chunk order — the bounded
    twin of a sequence of dated crawl drops whose contents are NOT in
    event-time order."""
    os.makedirs(out_dir, exist_ok=True)
    from pyspark.sql import functions as F

    paths = [
        os.path.join(out_dir, f"chunk{i:04d}.parquet") for i in range(n_chunks)
    ]
    missing = [i for i in range(n_chunks) if not os.path.exists(paths[i])]
    if not missing:
        return out_dir
    # ONE pass over df staging every chunk (a dynamic-partition write with
    # the chunk id as the partition key, one shuffle), instead of one
    # filter+coalesce job per chunk — n_chunks full input scans collapse
    # into one. repartition by the chunk value puts each chunk in exactly
    # one task, so each partition directory holds exactly one part file.
    tmp = os.path.join(out_dir, "__stage_tmp")
    (
        df.select(
            *columns, F.col(chunk_col).cast("int").alias("__stage_chunk")
        )
        .repartition(n_chunks, "__stage_chunk")
        .write.mode("overwrite").partitionBy("__stage_chunk").parquet(tmp)
    )
    empty = [
        i for i in missing
        if not os.path.isdir(os.path.join(tmp, f"__stage_chunk={i}"))
    ]
    if empty:
        # chunks with zero rows produce no partition directory; stage an
        # empty file with the data schema so the micro-batch sequence
        # still replays n_chunks batches (the pre-one-pass behavior)
        e = df.select(*columns).limit(0).coalesce(1)
        for i in empty:
            e.write.mode("overwrite").parquet(
                os.path.join(tmp, f"__stage_chunk={i}")
            )
    for i in missing:
        d = os.path.join(tmp, f"__stage_chunk={i}")
        part = next(
            f for f in os.listdir(d)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        os.rename(os.path.join(d, part), paths[i])
        t = 1_600_000_000 + i * 60
        os.utime(paths[i], (t, t))
    shutil.rmtree(tmp)
    return out_dir
