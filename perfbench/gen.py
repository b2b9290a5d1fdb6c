"""Seeded input generator, run as its own single-threaded process.

Every input the program sees comes from here: Confluent-framed Avro
transactions in the Kafka source's row shape, written as parquet files.

    python3 perfbench/gen.py --workload W --seed N --seconds S --dir WORK

During set-up the generator builds every file it will publish under
WORK/staged, stages the stream warm-up input under WORK/warm_src, prints
``READY <stage seconds>`` and waits for ``GO <epoch seconds>`` on stdin.

- ``tx_drain``: the whole backlog is hard-linked into WORK/src before READY
  (a closed loop: the query drains it as fast as it can); GO only ends the
  process.
- ``curate_batch``: the document corpus; GO only ends the process.
- ``tx_window``: an open loop. Drop i is due at
  GO + i / rate and is published into WORK/src by one atomic rename at that
  time, whether or not the program keeps up. Each drop's due and actual
  publish time go to WORK/gen_log.json.

Event time runs on a virtual clock that starts at EPOCH_MS and advances
with each drop's due offset (times the plan's speed), so the generated bytes
depend on the seed alone. A drop's events are created at its due time.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from avro_layout import (  # noqa: E402
    CATEGORIES, CURRENCIES, STATUSES, encode_transactions,
)

EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, virtual event-time origin
WATERMARK_DELAY_MS = 5_000    # the reference's bounded out-of-orderness
LATE_MS = 60_000              # how far behind a "far too late" event is
LATE_SHARE = 0.02
LATE_FROM_S = 2.0             # wall seconds: no late events before a watermark exists

KAFKA_SCHEMA = pa.schema([
    ("key", pa.binary()), ("value", pa.binary()), ("topic", pa.string()),
    ("partition", pa.int32()), ("offset", pa.int64()),
    ("timestamp", pa.timestamp("ms", tz="UTC")), ("timestampType", pa.int32()),
])


@dataclass(frozen=True)
class Plan:
    """Sizes of one workload's input. Fixed per workload so the parent and
    the change run identical inputs for one seed."""
    drops_per_s: float = 0.0  # open loop: drops published per second
    drop_events: int = 0      # events per drop
    users: int = 0            # distinct userIds (Zipf-skewed)
    zipf_s: float = 1.1
    base_files: int = 0       # drain: distinct backlog files
    file_events: int = 0      # drain: events per backlog file
    drain_rate_guess: float = 0.0  # drain: backlog sized for this rate x seconds
    speed: float = 1.0        # event-time seconds per wall second


PLANS = {
    "tx_drain": Plan(users=100_000, base_files=2, file_events=400_000,
                     drain_rate_guess=175_000.0),
    # A replay at twice real time: the 5 s watermark delay passes in 2.5 s of
    # wall time. 10 files/s keeps a micro-batch (~0.6 s) well under the file
    # source's 32-path threshold, above which each batch lists its files in a
    # Spark job.
    "tx_window": Plan(drops_per_s=10.0, drop_events=1000, users=20_000, speed=2.0),
}
WARM_FILES = 6    # the warm-up runs one file per micro-batch
ROW_GROUP = 50_000
# Events per warm-up file. The per-row code (decoder UDF, aggregation, state
# store) must be compiled before timing: with 1,000-event files the first
# timed seconds of tx_window ran ~20% slower than the last and its latency
# p50 spread ~20% across seeds; with 10,000 it spread ~8-10%, at no more
# set-up time.
WARM_EVENTS = 10_000

# curate_batch corpus (see BENCHMARK.json for why this size)
CORPUS_DOCS = 3_000
BENCH_SOURCE = "src19"
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
VOCAB_WORDS = 20_000
NEAR_DUP_SHARE = 0.10     # documents rewritten from another with 5% edits
CONTAMINATED_SHARE = 0.03  # train documents quoting a benchmark document
JUNK_SHARE = 0.08          # low-quality documents (symbol noise)


def drain_files(plan: Plan, seconds: float) -> int:
    """Backlog length in files: fixed by the run length, never by speed."""
    return max(2, round(seconds * plan.drain_rate_guess / plan.file_events))


def n_drops(plan: Plan, seconds: float) -> int:
    return int(round(seconds * plan.drops_per_s))


class UserSampler:
    """Bounded Zipf over ``users`` keys: rank r has weight 1 / r**s."""

    def __init__(self, users: int, s: float):
        w = 1.0 / np.arange(1, users + 1, dtype=np.float64) ** s
        self.cdf = np.cumsum(w / w.sum())

    def __call__(self, rng: np.random.Generator, n: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return np.minimum(idx, len(self.cdf) - 1)


def make_events(rng, n: int, first_id: int, created_ms: np.ndarray,
                users: UserSampler, *, late: np.ndarray | None = None,
                delay_ms: np.ndarray | None = None) -> dict:
    """Columns of n transactions. ``created_ms`` is each event's virtual
    creation time; event time is creation minus ``delay_ms`` (out of
    order), or minus LATE_MS where ``late`` is set."""
    ts = created_ms.astype(np.int64).copy()
    if delay_ms is not None:
        ts -= delay_ms
    if late is not None:
        ts[late] = created_ms[late] - LATE_MS
    cat = rng.integers(0, len(CATEGORIES), n)
    cat[rng.random(n) < 0.2] = -1
    return {
        "id": np.arange(first_id, first_id + n, dtype=np.int64),
        "amount": rng.integers(1, 500_000, n) / 100.0,
        "currency": rng.choice(len(CURRENCIES), n, p=[0.5, 0.3, 0.2]),
        "ts_ms": ts,
        "merchant": rng.integers(0, 20_000, n),
        "category": cat,
        "status": rng.choice(len(STATUSES), n, p=[0.3, 0.3, 0.3, 0.1]),
        "user": users(rng, n),
        "late": late if late is not None else np.zeros(n, bool),
    }


def kafka_table(ev: dict, partition: int, first_offset: int) -> pa.Table:
    n = len(ev["id"])
    return pa.table({
        "key": pa.nulls(n, pa.binary()),
        "value": encode_transactions(ev),
        "topic": pa.array(["transactions"] * n, pa.string()),
        "partition": pa.array(np.full(n, partition, np.int32)),
        "offset": pa.array(np.arange(first_offset, first_offset + n, dtype=np.int64)),
        "timestamp": pa.array(ev["ts_ms"], pa.timestamp("ms", tz="UTC")),
        "timestampType": pa.array(np.zeros(n, np.int32)),
    }, schema=KAFKA_SCHEMA)


def write_kafka(ev: dict, path: str, first_offset: int = 0) -> None:
    """One Kafka-shaped parquet file. Row groups of ROW_GROUP rows let a
    large file split across tasks, as a multi-partition topic would."""
    pq.write_table(kafka_table(ev, 0, first_offset), path, row_group_size=ROW_GROUP)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def warm_events(workload: str, seed: int, k: int) -> dict:
    """Warm-up file k: same shape as the timed input, distinct ids. Event
    time advances one watermark delay per file, so from the third warm-up
    batch on each one also emits closed windows, as a timed batch does;
    from the second file on, a share of the events is far too late."""
    plan = PLANS[workload]
    rng = _rng(seed, 1, k)
    n = WARM_EVENTS
    created = EPOCH_MS + k * WATERMARK_DELAY_MS + np.sort(rng.integers(0, 1000, n))
    ev = make_events(rng, n, 9_000_000_000 + k * n, created,
                     UserSampler(plan.users, plan.zipf_s),
                     late=rng.random(n) < LATE_SHARE if k else None,
                     delay_ms=rng.integers(0, 1000, n))
    ev["user"] = np.where(ev["late"], plan.users + ev["id"], ev["user"])
    return ev


def drain_events(seed: int, d: int) -> dict:
    """Distinct backlog file d of tx_drain."""
    plan = PLANS["tx_drain"]
    rng = _rng(seed, 2, d)
    n = plan.file_events
    created = EPOCH_MS + np.sort(rng.integers(0, 60_000, n))
    return make_events(rng, n, d * n, created, UserSampler(plan.users, plan.zipf_s))


def drop_events(workload: str, seed: int, i: int, users: UserSampler) -> dict:
    """Drop i of an open-loop workload, created at its due offset, its
    events out of order and a share of them far too late."""
    plan = PLANS[workload]
    rng = _rng(seed, 3, i)
    n = plan.drop_events
    due_s = i / plan.drops_per_s
    created = np.full(n, EPOCH_MS + int(round(due_s * plan.speed * 1000)), np.int64)
    late = rng.random(n) < LATE_SHARE if due_s >= LATE_FROM_S else None
    delay = rng.integers(0, WATERMARK_DELAY_MS - 500, n)
    ev = make_events(rng, n, i * n, created, users, late=late, delay_ms=delay)
    # Each far-too-late event has a userId of its own. Spark pre-aggregates
    # a batch before the state operator drops late rows, so late events
    # sharing a key and window would be counted as one dropped row.
    ev["user"] = np.where(ev["late"], plan.users + ev["id"], ev["user"])
    return ev


def _vocab_words(rng) -> np.ndarray:
    syll = np.array(["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe",
                     "sa", "do", "fu", "gi", "ha", "jo", "be"])
    words = set()
    while len(words) < VOCAB_WORDS:
        k = rng.integers(2, 6)
        words.add("".join(syll[rng.integers(0, len(syll), k)]))
    return np.array(sorted(words))


def corpus(seed: int, n: int) -> dict:
    """Document corpus in the testdata ``documents`` shape: doc_id, text,
    lang, source, n_chars. Plants near-duplicate clusters, benchmark
    contamination (source BENCH_SOURCE is the benchmark) and junk."""
    rng = _rng(seed, 4, n)
    words = _vocab_words(rng)
    w = 1.0 / np.arange(1, len(words) + 1) ** 0.7
    cdf = np.cumsum(w / w.sum())
    stop = np.array(STOPWORDS)
    source = rng.integers(0, 20, n)
    docs = []
    for i in range(n):
        k = int(rng.integers(30, 90))
        toks = words[np.minimum(np.searchsorted(cdf, rng.random(k)), len(words) - 1)]
        sw = rng.random(k) < 0.1
        toks[sw] = stop[rng.integers(0, len(stop), sw.sum())]
        docs.append(toks)
    bench_idx = np.flatnonzero(source == 19)
    for i in np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE):
        base = docs[int(rng.integers(0, n))].copy()
        edit = rng.random(len(base)) < 0.05
        base[edit] = words[rng.integers(0, len(words), edit.sum())]
        docs[i] = base
    for i in np.flatnonzero((rng.random(n) < CONTAMINATED_SHARE) & (source != 19)):
        quote = docs[int(rng.choice(bench_idx))]
        at = int(rng.integers(0, len(quote) - 8))
        pos = int(rng.integers(0, len(docs[i])))
        docs[i] = np.concatenate([docs[i][:pos], quote[at:at + 8], docs[i][pos:]])
    # junk stays out of the benchmark source, so decontamination does not
    # remove it before the quality gate sees it
    junk = (rng.random(n) < JUNK_SHARE) & (source != 19)
    sym = np.array(["#%", "$!", "*&", "@@", "%$#", "!!*", "&^", "~#"])
    text = []
    for i, toks in enumerate(docs):
        t = " ".join(toks)
        if junk[i]:
            t = " ".join(sym[rng.integers(0, len(sym), len(toks))])
        text.append(t)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": ["en"] * n,
        "source": [f"src{s}" for s in source],
        "n_chars": np.array([len(t) for t in text], np.int64),
    }


def write_corpus(cols: dict, path: str) -> None:
    pq.write_table(pa.table(cols), path, row_group_size=max(1, len(cols["text"]) // 8))


def build(workload: str, seed: int, seconds: float, work: str) -> None:
    """Set-up: write every file the run will publish."""
    if workload == "curate_batch":
        os.makedirs(work, exist_ok=True)
        write_corpus(corpus(seed, CORPUS_DOCS), os.path.join(work, "corpus.parquet"))
        return
    plan = PLANS[workload]
    staged, src, warm = (os.path.join(work, d) for d in ("staged", "src", "warm_src"))
    for d in (staged, src, warm):
        os.makedirs(d, exist_ok=True)
    for k in range(WARM_FILES):
        write_kafka(warm_events(workload, seed, k),
                    os.path.join(warm, f"warm_{k:04d}.parquet"))
    if workload == "tx_drain":
        for d in range(plan.base_files):
            write_kafka(drain_events(seed, d), os.path.join(staged, f"base_{d:04d}.parquet"))
        for f in range(drain_files(plan, seconds)):
            os.link(os.path.join(staged, f"base_{f % plan.base_files:04d}.parquet"),
                    os.path.join(src, f"backlog_{f:04d}.parquet"))
        return
    users = UserSampler(plan.users, plan.zipf_s)
    for i in range(n_drops(plan, seconds)):
        write_kafka(drop_events(workload, seed, i, users),
                    os.path.join(staged, f"drop_{i:06d}.parquet"), i * plan.drop_events)


def publish(workload: str, seconds: float, work: str, t0: float) -> list:
    """Open loop: rename drop i into the source directory at t0 + i/rate.
    Returns [(due, actual)] epoch seconds per drop."""
    plan = PLANS[workload]
    staged, src = os.path.join(work, "staged"), os.path.join(work, "src")
    log = []
    for i in range(n_drops(plan, seconds)):
        due = t0 + i / plan.drops_per_s
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"drop_{i:06d}.parquet"
        os.rename(os.path.join(staged, name), os.path.join(src, name))
        log.append((due, time.time()))
    return log


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PLANS) + ["curate_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--dir", required=True)
    args = ap.parse_args(argv)
    t = time.perf_counter()
    build(args.workload, args.seed, args.seconds, args.dir)
    print(f"READY {time.perf_counter() - t:.6f}", flush=True)
    line = sys.stdin.readline().split()
    if len(line) != 2 or line[0] != "GO":
        return 1
    if args.workload in PLANS and PLANS[args.workload].drops_per_s:
        log = publish(args.workload, args.seconds, args.dir, float(line[1]))
        tmp = os.path.join(args.dir, "gen_log.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(log, fh)
        os.replace(tmp, os.path.join(args.dir, "gen_log.json"))
    with open("/proc/self/status") as fh:
        hwm_kb = next((ln.split()[1] for ln in fh if ln.startswith("VmHWM:")), "0")
    print(f"DONE {hwm_kb}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
