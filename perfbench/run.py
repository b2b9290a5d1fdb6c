#!/usr/bin/env python3
"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (see BENCHMARK.json and
perfbench/README.md): tx_drain, tx_window, curate_batch, or
``all`` to run each in turn with the given seed. The last line of standard
output is one JSON object: correct, attempted, failed and metrics. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they are
the per-layer ones and a span file is written under .perfbench/traces/.
The exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

RUN_DEADLINE_S = 170  # the run gives up (no result line) before 180 s
WORKLOADS = ("tx_drain", "tx_window", "curate_batch")
E2E = ("setup_s", "throughput_rps", "latency_p50_s", "latency_p90_s",
       "latency_p99_s", "peak_rss_mb")
UNITS = {"setup_s": "s", "throughput_rps": "1/s", "latency_p50_s": "s",
         "latency_p90_s": "s", "latency_p99_s": "s", "peak_rss_mb": "MB"}


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run stopped by signal {signum} (deadline {RUN_DEADLINE_S}s)")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: the repository's benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    if not os.path.isdir(os.path.join(ROOT, "flink_kafka_table_api_spark")):
        print("perfbench: the program (flink_kafka_table_api_spark/) is not in this checkout",
              file=sys.stderr)
        return 2
    from harness import INHERITED_ENV, Run, log
    from workloads import LAYER_UNITS, RUNNERS

    for k in INHERITED_ENV:
        os.environ.pop(k, None)
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.signal(signal.SIGTERM, _on_alarm)  # stop the JVM and generator on kill too
    signal.alarm(RUN_DEADLINE_S)

    # The codec jar is a build product (build/ is not committed): compile it
    # before the set-up clock starts, so the first run in a fresh checkout
    # does not carry javac in its set-up time.
    from flink_kafka_table_api_spark.sources import java_udf
    if java_udf.ensure_built() is None:
        log("could not build the JVM Avro codec jar")
        shutil.rmtree(work, ignore_errors=True)
        return 3
    t_setup0 = time.time()

    run = Run(args, work, t_setup0)
    try:
        e2e, attempted, failed = RUNNERS[args.workload](run)
        e2e["peak_rss_mb"] = run.info.pop("peak_rss_mb") + run.gen.hwm_mb
    finally:
        signal.alarm(0)
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    correct = bool(run.checks) and all(run.checks.values())
    run.info["checks"] = run.checks
    run.info["e2e"] = e2e
    if args.trace:
        run.layer["trace.overhead_ms"] = run.tracer.overhead_s * 1e3
        run.info["not_measured"] = sorted(k for k in LAYER_UNITS if k not in run.layer)
        self_times = run.tracer.self_times()
        run.info["self_time_s"] = self_times
        tdir = os.path.join(ROOT, ".perfbench", "traces")
        run.tracer.dump(os.path.join(tdir, f"{args.workload}-{args.seed}-{run.tracer.run_id}.json"),
                        {"info": run.info, "layer": run.layer})
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": UNITS[k]} for k in E2E}
    log("info " + json.dumps(run.info, default=str))
    print(json.dumps({"correct": correct, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in turn, each in its own process, with one seed."""
    rc = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
        res = json.loads(last) if last.startswith("{") else {}
        print(f"== {w}: correct={res.get('correct')} attempted={res.get('attempted')}"
              f" failed={res.get('failed')} rc={out.returncode}")
        for k, m in res.get("metrics", {}).items():
            print(f"   {k:48s} {m['value']:.6g} {m['unit']}")
        rc = rc or out.returncode
    return rc


if __name__ == "__main__":
    sys.exit(main())
