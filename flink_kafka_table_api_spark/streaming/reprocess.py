"""Selective reprocessing for batch_commit streaming state.

Every foreachBatch pipeline in this package keeps its state under
`state_dir` in the streaming/batch_commit.py layout:

  commits/batch-N        the exactly-once marker, written LAST
  offsets/batch-N.json   watermark/offset scalars (where applicable)
  state/batch-N          versioned keyed state (where applicable)
  <dir>/batch-N          batch-scoped outputs, at any depth (a nested
  <dir>/batch_id=N/      commit such as dedup/indexed/batch-N included)
  ckpt/                  the Structured Streaming checkpoint

That convention makes REPROCESSING a first-class operation instead of a
wipe-and-rerun: to re-run the stream from drop K (a fixed bug in batch
logic, a revised quality threshold, a corrupted publish), delete
everything the batches >= K published and their markers, keep everything
before K, and drop the checkpoint. On the next availableNow run the
file-stream replays ALL drops; batches < K hit their markers and no-op
instantly, batches >= K recompute against the surviving prefix state —
the same code path crash recovery already exercises, so reprocessing
needs no second implementation.

At 100 TB this is the difference between "rebuild the corpus" and
"recompute the three bad daily drops": cost is O(reprocessed drops),
and the blast radius is exactly the batch-scoped directories removed.
"""

from __future__ import annotations

import os
import shutil

from flink_kafka_table_api_spark.streaming.batch_commit import (
    MARKER_DIR,
    batch_number,
)


def reset_from(state_dir: str, batch_id: int) -> dict:
    """Remove every ``batch-N``, ``batch-N.json``, ``batch-N-flush`` or
    ``batch_id=N`` entry with N >= `batch_id` at any depth under
    `state_dir` (batch_commit's naming rule), plus the streaming
    checkpoint ``ckpt/``, leaving batches < `batch_id` untouched.
    Returns {kind: n_removed} for auditing: markers, offsets and state
    count the top-level commits/, offsets/ and state/ entries,
    partitions the top-level ``<dir>/batch_id=N`` dirs, nested every
    other removal (``<dir>/batch-N`` outputs, nested commits)."""
    # fail fast, before any deletion: pipelines with a versioned state
    # chain (cdc_apply, temporal_join) fold batch K onto state/batch-K-1,
    # and the version prune (batch_commit.KEEP_VERSIONS) drops old
    # versions — resetting to a K whose basis was pruned would silently
    # rebase the tail's merge on nothing
    state_d = os.path.join(state_dir, "state")
    if batch_id > 0 and os.path.isdir(state_d):
        have = {e.name for e in os.scandir(state_d)}
        if have and f"batch-{batch_id - 1}" not in have:
            oldest = min(int(n[len("batch-"):]) for n in have)
            raise ValueError(
                f"state/batch-{batch_id - 1} (the merge basis for batch "
                f"{batch_id}) was pruned by the version tail; valid "
                f"resets are 0 (full rebuild) or >= {oldest + 1} (whose "
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
            path = os.path.join(root, name)
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
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


__all__ = ["reset_from"]
