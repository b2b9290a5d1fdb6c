#!/usr/bin/env python3
"""Two-point size check for curate_batch: time curate_and_pack on the
benchmark's corpus size N and on 2N in one warmed session. When per-document
work dominates, the 2N pass takes close to twice as long.

    python3 perfbench/sizing.py [--docs N] [--passes P] [--seed S]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import stats  # noqa: E402
from harness import INHERITED_ENV, K, Engine  # noqa: E402
from spans import Tracer  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--docs", type=int, default=gen.CORPUS_DOCS)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    for k in INHERITED_ENV:
        os.environ.pop(k, None)
    work = os.path.join(ROOT, ".perfbench", "work", f"sizing-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    from flink_kafka_table_api_spark.caching import release_cached
    from flink_kafka_table_api_spark.plans.llm_curation import curate_and_pack

    engine = Engine(work, Tracer(False), f"local[{K}]")
    try:
        sizes = {"warm": args.docs, "N": args.docs, "2N": 2 * args.docs}
        for name, n in sizes.items():
            gen.write_corpus(gen.corpus(args.seed, n), os.path.join(work, f"{name}.parquet"))
        times = {}
        for name in sizes:
            reps = 1 if name == "warm" else args.passes
            times[name] = []
            for _ in range(reps):
                t = time.perf_counter()
                curate_and_pack(engine.spark.read.parquet(os.path.join(work, f"{name}.parquet"))).collect()
                release_cached()
                times[name].append(time.perf_counter() - t)
        n1, n2 = stats.median(times["N"]), stats.median(times["2N"])
        print(f"N={args.docs} docs: passes {[round(t, 2) for t in times['N']]} s, median {n1:.2f} s")
        print(f"2N={2 * args.docs} docs: passes {[round(t, 2) for t in times['2N']]} s, median {n2:.2f} s")
        print(f"time(2N) / time(N) = {n2 / n1:.2f}; per-doc share of a pass at N ~ {2 - n2 / n1:.2f}"
              f" fixed, {n2 / n1 - 1:.2f} per-document")
    finally:
        engine.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
