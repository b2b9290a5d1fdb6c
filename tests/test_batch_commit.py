"""The shared exactly-once commit protocol (`streaming/batch_commit.py`).

- A source scan (no Spark) keeps the protocol in one module: no other
  module under `streaming/` writes a commit marker or starts an
  availableNow foreachBatch query.
- Real fault injection: a fault is raised inside the helper (after the
  first publish, after the last publish but before the marker, or
  after the marker but before the prune), the run fails, and a rerun on
  the same state_dir resumes from the surviving checkpoint. Output AND
  the batch-scoped on-disk layout must equal an uninterrupted run's.
- A source scan (no Spark) keeps the state layout in this module: no
  other module under `streaming/` lists, tests, opens, creates or deletes
  a path, apart from the input staging and the checkpoint-log read.
- `reset_from` removes nested commit state (`dedup/indexed/batch-N`
  and its siblings), so a reprocess recomputes instead of reusing it.
"""

from __future__ import annotations

import itertools
import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.catalog import read_table
from flink_kafka_table_api_spark.streaming import batch_commit
from flink_kafka_table_api_spark.streaming.cdc_apply import stream_cdc_apply
from flink_kafka_table_api_spark.streaming.curation_pipeline import (
    stream_curate_pack,
)
from flink_kafka_table_api_spark.streaming.profile_monitor import (
    EVENTS_SPEC,
    stream_profile,
)
from flink_kafka_table_api_spark.streaming.quota import stream_source_quota
from flink_kafka_table_api_spark.streaming.batch_commit import reset_from

SF = "/root/testdata/sf0.001"
STREAMING = pathlib.Path(batch_commit.__file__).parent


# -- source scan -----------------------------------------------------------

def _protocol_copies(src: str) -> list[str]:
    """What a module does that only batch_commit.py may do."""
    found = []
    if "open(marker" in src or re.search(r"""["']commits["']""", src):
        found.append("writes a commit marker")
    if ".foreachBatch(" in src and re.search(r"availableNow\s*=\s*True", src):
        found.append("starts an availableNow foreachBatch query")
    return found


def test_scan_catches_a_hand_written_copy():
    copy = '''
    marker_dir = os.path.join(state_dir, "commits")
    open(marker, "w").close()
    q = stream.writeStream.foreachBatch(process).trigger(availableNow=True)
    '''
    assert len(_protocol_copies(copy)) == 2


def test_only_batch_commit_owns_the_protocol():
    offenders = {
        p.name: found
        for p in sorted(STREAMING.glob("*.py"))
        if p.name != "batch_commit.py"
        and (found := _protocol_copies(p.read_text()))
    }
    assert offenders == {}


# The event-time clock (late_data.EventClock) and the stats it resolves
# (chunk_stats.py) own the batch maximum and the checkpoint-log read;
# idle_watermark and watermark_alignment keep their per-source clocks (a
# minimum over sources under idleness or alignment, a different rule).
CLOCK_OWNERS = {
    "late_data.py", "chunk_stats.py", "idle_watermark.py",
    "watermark_alignment.py",
}
# retract.rowkind_diff is the one RowKind diff; allowed_lateness emits
# its correction pairs from window state, not from a snapshot diff.
DIFF_OWNERS = {"retract.py", "allowed_lateness.py"}


def _clock_or_diff_copies(name: str, src: str) -> list[str]:
    """What a module does that only the clock or the diff may do."""
    found = []
    if name not in CLOCK_OWNERS:
        if re.search(r"\bstat_max\(", src):
            found.append("folds a batch maximum")
        if re.search(r"""["']max_seen["']""", src):
            found.append("reads a max_seen sidecar key")
        if re.search(r"""sources/0|["']sources["']\s*,\s*["']0["']""", src):
            found.append("opens the file-source log")
    if name not in DIFF_OWNERS and re.search(r"""["']-U["']""", src):
        found.append("builds a -U row")
    return found


def test_clock_scan_catches_a_hand_written_copy():
    copy = '''
    prev = commit.meta(batch_id - 1, {"watermark": None, "max_seen": None})
    log = os.path.join(ckpt, "sources", "0", str(batch_id))
    batch_max = stat_max(srows, "mx")
    retract = j.select(F.lit("-U").alias("op"), "grp")
    '''
    assert len(_clock_or_diff_copies("cdc_apply.py", copy)) == 4
    assert _clock_or_diff_copies("late_data.py", copy) == ["builds a -U row"]
    assert _clock_or_diff_copies("retract.py", copy) != []


def test_only_the_clock_and_the_diff_own_their_rules():
    offenders = {
        p.name: found
        for p in sorted(STREAMING.glob("*.py"))
        if (found := _clock_or_diff_copies(p.name, p.read_text()))
    }
    assert offenders == {}


# batch_commit owns every state path; the two other modules that touch
# files hold no state: late_data stages the input drops, and chunk_stats
# lists those staged files and reads the checkpoint's file-source log.
STORAGE_OWNERS = {"batch_commit.py", "late_data.py", "chunk_stats.py"}
STORAGE_CALLS = {
    "lists a directory": r"\bos\.(?:scandir|listdir|walk)\(",
    "tests a path": r"\bos\.path\.(?:isdir|exists)\(",
    "creates or deletes a path": r"\bos\.(?:makedirs|remove)\(|\bshutil\.",
    "opens a file": r"(?<![\w.])open\(",
    "uses pyarrow.parquet": r"\bpyarrow\.parquet\b",
}


def _storage_copies(name: str, src: str) -> list[str]:
    """What a module does to a path that only batch_commit.py may do."""
    if name in STORAGE_OWNERS:
        return []
    return [what for what, rx in STORAGE_CALLS.items() if re.search(rx, src)]


def test_storage_scan_catches_a_hand_written_copy():
    copy = '''
    versions = sorted(
        (e for e in os.scandir(state) if e.name.startswith("batch-")),
        key=lambda e: int(e.name[len("batch-"):]),
    ) if os.path.isdir(state) else []
    shutil.rmtree(versions[0].path, ignore_errors=True)
    n = json.load(open(os.path.join(wm_dir, "batch-0.json")))
    import pyarrow.parquet as pq
    '''
    assert len(_storage_copies("cdc_apply.py", copy)) == 5
    assert _storage_copies("batch_commit.py", copy) == []
    hadoop = "if fs.exists(dst):\n    f = fs.open(dst)"
    assert _storage_copies("upsert.py", hadoop) == []


def test_only_batch_commit_touches_a_state_path():
    offenders = {
        p.name: found
        for p in sorted(STREAMING.glob("*.py"))
        if (found := _storage_copies(p.name, p.read_text()))
    }
    assert offenders == {}


# -- fault injection -------------------------------------------------------

def _inject(monkeypatch, point: str, call: int) -> None:
    """Raise once, at the `call`-th invocation of the helper step `point`:

    - ``_publish``: after the first of the batch's writes ran;
    - ``_write_marker``: after every write and the sidecar, before the
      marker;
    - ``_prune``: after the marker, before the prune."""
    real = getattr(batch_commit, point)
    calls = itertools.count()

    def faulty(*args):
        if next(calls) != call:
            return real(*args)
        if point == "_publish":
            args[0][0]()
        raise RuntimeError(f"injected fault at {point}")

    monkeypatch.setattr(batch_commit, point, faulty)


def _crash_then_resume(monkeypatch, point: str, call: int, run):
    with monkeypatch.context() as m:
        _inject(m, point, call)
        with pytest.raises(Exception, match="injected fault"):
            run()
    return run()


def _layout(state: str) -> list[str]:
    """Every batch-named entry under `state`, the checkpoint excluded."""
    out = []
    for root, dirs, files in os.walk(state):
        if root == state and "ckpt" in dirs:
            dirs.remove("ckpt")
        out += [
            os.path.relpath(os.path.join(root, n), state)
            for n in dirs + files if batch_commit.batch_number(n) is not None
        ]
    return sorted(out)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


QUOTA_DOCS = [
    (0, 1, "a", "w w"), (0, 2, "a", "w w"), (1, 3, "a", "w w w"),
    (2, 4, "a", "w"), (0, 5, "b", "w"), (1, 6, "b", "w w"),
    (2, 7, "b", "w"),
]


def _quota(spark, state):
    docs = spark.createDataFrame(
        QUOTA_DOCS, "c int, doc_id long, source string, text string",
    ).select("doc_id", "source", "text", F.col("c").alias("__chunk"))
    return _rows(stream_source_quota(
        spark, docs, state, n_chunks=3, budget=5,
    ))


@pytest.fixture(scope="module")
def quota_ref(spark, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("quota_ref"))
    return _quota(spark, state), _layout(state)


@pytest.mark.parametrize("point", ["_publish", "_write_marker", "_prune"])
def test_quota_resumes_exactly_once(spark, tmp_path, monkeypatch,
                                    quota_ref, point):
    state = str(tmp_path / "q")
    # fault in batch 1 of 3: one commit per batch, so call index 1
    got = _crash_then_resume(
        monkeypatch, point, 1, lambda: _quota(spark, state)
    )
    assert (got, _layout(state)) == quota_ref


def _cdc(spark, state):
    rows = [
        (i, 100 + i, f"2024-01-0{i + 1} 10:00:00", i % 2, "U", float(i))
        for i in range(5)
    ]
    ops = spark.createDataFrame(
        rows, "c int, op_id long, ts string, key long, op string, "
        "value double",
    ).select(
        "op_id", F.col("ts").cast("timestamp").alias("op_ts"), "key",
        "op", "value", F.col("c").alias("__chunk"),
    )
    return _rows(stream_cdc_apply(
        spark, ops, state, n_chunks=5, delay="30 days",
    ))


@pytest.mark.parametrize("crash_batch", [3, 4])
def test_cdc_prune_fault_leaves_no_version_behind(spark, tmp_path,
                                                  monkeypatch, crash_batch):
    """A crash between a batch's marker and its prune: the replayed
    batch hits its marker and must still prune (the only prune left
    when it is the last batch), and every later prune removes every
    version below the window — else an old version survives for good."""
    monkeypatch.setattr(batch_commit, "KEEP_VERSIONS", 2)
    ref = str(tmp_path / "ref")
    want = _cdc(spark, ref)
    state = str(tmp_path / "crash")
    got = _crash_then_resume(
        monkeypatch, "_prune", crash_batch, lambda: _cdc(spark, state)
    )
    assert got == want
    versions = sorted(os.listdir(os.path.join(state, "state")))
    assert versions == sorted(os.listdir(os.path.join(ref, "state")))
    assert versions == ["batch-3", "batch-4"]


def test_profile_publish_fault_is_scrubbed(spark, tmp_path, monkeypatch):
    """The append + partitionBy layout: batch 1's partial landed before
    the fault, so only the scrub keeps the replay from doubling it."""
    ev = read_table(spark, SF, "events").select(
        *[c for c, _ in EVENTS_SPEC], (F.col("event_id") % 3).alias("__chunk")
    )

    def run(state):
        return _rows(stream_profile(spark, ev, state, n_chunks=3))

    ref = str(tmp_path / "ref")
    want = run(ref)
    state = str(tmp_path / "crash")
    got = _crash_then_resume(
        monkeypatch, "_publish", 1, lambda: run(state)
    )
    assert got == want
    assert _layout(state) == _layout(ref)


def _curate(spark, state, threshold=0.5):
    docs = read_table(spark, SF, "documents").select("doc_id", "text")
    return _rows(stream_curate_pack(
        spark, docs, state, threshold=threshold, quality_threshold=0.5,
        budget=256, chunks=2, portable=True,
    ))


@pytest.fixture(scope="module")
def curate_ref(spark, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("curate_ref"))
    return _curate(spark, state), _layout(state)


def test_curation_nested_commit_resumes(spark, tmp_path, monkeypatch,
                                        curate_ref):
    """A crash after batch 1's last publish, before its marker: the
    nested dedup commit of batch 1 is already marked (markers go dedup,
    outer, dedup, outer — call index 3 is the outer batch 1)."""
    state = str(tmp_path / "crash")
    got = _crash_then_resume(
        monkeypatch, "_write_marker", 3, lambda: _curate(spark, state)
    )
    assert (got, _layout(state)) == curate_ref


def test_reset_from_removes_nested_commits(spark, tmp_path, curate_ref):
    """Reprocessing at a new near-dup threshold must recompute the
    nested dedup state, not reuse the old run's matches."""
    want, _ = curate_ref
    state = str(tmp_path / "reset")
    assert _curate(spark, state, threshold=0.9) != want
    removed = reset_from(state, 0)
    assert _curate(spark, state, threshold=0.5) == want
    assert removed["markers"] == 2 and removed["checkpoint"] == 1
    assert removed["nested"] > 0
