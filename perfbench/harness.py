"""Infrastructure the workloads share: the pinned run environment, the
generator process, the Spark session, the streaming logs, the run record."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
import urllib.parse

import numpy as np

import stats
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))

# ---- pinned run environment (identical for every commit measured) ----------
# local[K] plus the single generator thread fit in the machine's cores.
K = max(1, min(3, (os.cpu_count() or 2) - 1))
DRIVER_HEAP = "2g"
# The whole heap committed up front and a fixed young generation, so the
# JVM's resident size follows what survives into the old generation rather
# than G1's run-to-run choices of heap and eden size.
JVM_HEAP_SHAPE = ("-Xms2g", "-XX:+UnlockExperimentalVMOptions",
                  "-XX:G1NewSizePercent=20", "-XX:G1MaxNewSizePercent=20")
INHERITED_ENV = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                 "SPARK_GRAFT_EXTRA_CONF", "PYSPARK_SUBMIT_ARGS")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_steal_s() -> float:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(x) for x in fh.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


# ---------------------------------------------------------------- generator

class Generator:
    """The seeded generator process (perfbench/gen.py)."""

    def __init__(self, workload: str, seed: int, seconds: float, work: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--dir", work],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.hwm_mb = 0.0

    def ready(self) -> float:
        """Block until staging is done; returns the staging seconds."""
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "READY":
            raise RuntimeError(f"generator failed during staging: {line}")
        return float(line[1])

    def go(self, t0: float) -> None:
        self.proc.stdin.write(f"GO {t0!r}\n")
        self.proc.stdin.flush()

    def done(self) -> None:
        line = self.proc.stdout.readline().split()
        self.proc.wait()
        if len(line) != 2 or line[0] != "DONE" or self.proc.returncode != 0:
            raise RuntimeError(f"generator failed: {line} rc={self.proc.returncode}")
        self.hwm_mb = float(line[1]) / 1024.0

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        for fh in (self.proc.stdin, self.proc.stdout):
            fh.close()


# ---------------------------------------------------------------- spark

class Engine:
    """One Spark session built by the program's session factory, pinned."""

    def __init__(self, work: str, tracer: Tracer, master: str):
        from flink_kafka_table_api_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_HEAP,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": " ".join([
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *JVM_HEAP_SHAPE]),
            "spark.ui.showConsoleProgress": "false",
        }
        with tracer.span("session"):
            t = time.perf_counter()
            self.spark = get_spark("perfbench", master=master,
                                   shuffle_partitions=K, extra_conf=conf)
            self.start_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        """Spark JVM plus the Python processes it started."""
        pids = [self.jvm_pid] + descendants(self.jvm_pid)
        return sum(vm_hwm_mb(p) for p in pids)

    def gc_s(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        beans = mf.getGarbageCollectorMXBeans()
        return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1e3

    def heap_used_mb(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    def status_totals(self) -> dict:
        """Totals over every job and stage Spark's status store holds."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        default = lambda k: getattr(store, f"stageList$default${k}")()  # noqa: E731
        stages = store.stageList(None, False, False, default(4), default(5))
        t = {"jobs": store.jobsList(None).size(), "stages": 0, "tasks": 0,
             "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "run_ms": 0, "cpu_ns": 0}
        for i in range(stages.size()):
            s = stages.apply(i)
            t["stages"] += 1
            t["tasks"] += s.numCompleteTasks()
            t["shuffle_write"] += s.shuffleWriteBytes()
            t["shuffle_read"] += s.shuffleReadBytes()
            t["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            t["run_ms"] += s.executorRunTime()
            t["cpu_ns"] += s.executorCpuTime()
        return t

    def stop(self) -> None:
        """Stop the session and its JVM, so another can start in-process."""
        try:
            self.spark.stop()
        finally:
            stop_jvm()


def stop_jvm() -> None:
    """End the py4j gateway's JVM, if one was launched, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


class EngineProbe:
    """Traced runs only: status-store and GC deltas over the timed region
    and the heap in use, sampled every 50 ms."""

    def __init__(self, engine: Engine):
        self.engine = engine
        self.heap_max = 0.0
        self._stop = threading.Event()
        self.before = engine.status_totals()
        self.gc0 = engine.gc_s()
        self._t = threading.Thread(target=self._sample, daemon=True)
        self._t.start()

    def _sample(self):
        while not self._stop.wait(0.05):
            self.heap_max = max(self.heap_max, self.engine.heap_used_mb())

    def finish(self) -> dict:
        self._stop.set()
        self._t.join(timeout=5)
        after = self.engine.status_totals()
        d = {k: after[k] - self.before[k] for k in after}
        return {
            "engine.jobs": d["jobs"], "engine.stages": d["stages"], "engine.tasks": d["tasks"],
            "engine.shuffle_write_mb": d["shuffle_write"] / 2**20,
            "engine.shuffle_read_mb": d["shuffle_read"] / 2**20,
            "engine.spill_mb": d["spill"] / 2**20,
            "engine.executor_run_s": d["run_ms"] / 1e3,
            "engine.executor_cpu_s": d["cpu_ns"] / 1e9,
            "engine.gc_s": self.engine.gc_s() - self.gc0,
            "engine.heap_used_mb_max": self.heap_max,
        }


def noop_write(df) -> None:
    """Run a frame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- streaming logs

def _log_files(path: str) -> list[tuple[int, str]]:
    out = []
    for name in os.listdir(path) if os.path.isdir(path) else []:
        base = name.split(".")[0]
        if not name.startswith(".") and base.isdigit() and not name.endswith(".tmp"):
            out.append((int(base), os.path.join(path, name)))
    return sorted(out)


def _entries(path: str) -> list[dict]:
    with open(path) as fh:
        lines = fh.read().splitlines()
    return [json.loads(x) for x in lines[1:] if x.strip()]


def _local(uri: str) -> str:
    return urllib.parse.unquote(urllib.parse.urlparse(uri).path)


def source_batches(checkpoint: str) -> dict[str, int]:
    """Input file name -> batch id, from the file source's offset log."""
    out = {}
    for _, path in _log_files(os.path.join(checkpoint, "sources", "0")):
        for e in _entries(path):
            out[os.path.basename(_local(e["path"]))] = int(e["batchId"])
    return out


def sink_batches(sink: str) -> dict[int, tuple[float, list[str]]]:
    """Batch id -> (commit time, files it added), from the parquet sink's
    metadata log. A batch's commit time is when its log entry was written."""
    out, seen = {}, set()
    for n, path in _log_files(os.path.join(sink, "_spark_metadata")):
        files = [_local(e["path"]) for e in _entries(path) if e.get("action", "add") == "add"]
        new = [f for f in files if f not in seen]
        seen.update(files)
        out[n] = (os.path.getmtime(path), new)
    return out


def committed_batches(checkpoint: str) -> set[int]:
    return {n for n, _ in _log_files(os.path.join(checkpoint, "commits"))}


class ProgressLog:
    """Every StreamingQueryProgress of a query, by batch id."""

    def __init__(self):
        self.by_batch: dict[int, dict] = {}

    def poll(self, query) -> None:
        for p in query.recentProgress:
            self.by_batch[int(p["batchId"])] = p

    def batches(self) -> list[dict]:
        return [self.by_batch[k] for k in sorted(self.by_batch)]


def process_all(query, timeout: float) -> bool:
    """processAllAvailable with a time limit; False if it ran out."""
    err = []

    def target():
        try:
            query.processAllAvailable()
        except Exception as exc:  # the query was stopped or failed
            err.append(exc)

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout)
    if t.is_alive():
        query.stop()
        t.join(30)
        return False
    if err:
        raise err[0]
    return True


def settle(query, quiet_s: float = 0.6, limit_s: float = 5.0) -> None:
    """Wait until no new batch has started for quiet_s, so a final no-data
    batch that emits closed windows has run."""
    end = time.time() + limit_s
    last, since = None, time.time()
    while time.time() < end:
        p = query.lastProgress
        cur = p["batchId"] if p else None
        if cur != last or query.status["isTriggerActive"]:
            last, since = cur, time.time()
        elif time.time() - since >= quiet_s:
            return
        time.sleep(0.1)


def stream_layer_metrics(batches: list[dict]) -> dict:
    q = stats.quantile_or_nan
    dur = [b["durationMs"] for b in batches if b.get("numInputRows", 0) > 0]
    rows = [b["numInputRows"] for b in batches if b.get("numInputRows", 0) > 0]
    g = lambda k: [d.get(k, 0) for d in dur]  # noqa: E731
    return {
        "sources.files.latest_offset_ms_p50": q(g("latestOffset"), 50),
        "sources.files.latest_offset_ms_p99": q(g("latestOffset"), 99),
        "sources.files.get_batch_ms_p50": q(g("getBatch"), 50),
        "streaming.batches": len(dur),
        "streaming.rows_per_batch_p50": q(rows, 50),
        "streaming.query_planning_ms_p50": q(g("queryPlanning"), 50),
        "streaming.wal_commit_ms_p50": q(g("walCommit"), 50),
        "streaming.commit_offsets_ms_p50": q(g("commitOffsets"), 50),
        "streaming.batch_overhead_ms_p50": q([d.get("triggerExecution", 0) - d.get("addBatch", 0)
                                             for d in dur], 50),
        "streaming.add_batch_ms_p50": q(g("addBatch"), 50),
        "streaming.add_batch_ms_p99": q(g("addBatch"), 99),
    }


def window_layer_metrics(batches: list[dict]) -> dict:
    ops = [b["stateOperators"][0] for b in batches if b.get("stateOperators")]
    return {
        "streaming.windows.state_rows_max": max((o["numRowsTotal"] for o in ops), default=0),
        "streaming.windows.state_mem_mb_max": max((o["memoryUsedBytes"] for o in ops),
                                                  default=0) / 2**20,
        "streaming.windows.state_commit_ms_p50": stats.quantile_or_nan(
            [o.get("commitTimeMs", 0) for o in ops], 50),
        "streaming.windows.rows_dropped_by_watermark": dropped_by_watermark(batches),
        "streaming.windows.rows_updated": sum(o["numRowsUpdated"] for o in ops),
    }


def dropped_by_watermark(batches: list[dict]) -> int:
    return sum(b["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
               for b in batches if b.get("stateOperators"))


# ---------------------------------------------------------------- the run

class Run:
    def __init__(self, args, work: str, t_setup0: float):
        self.args = args
        self.work = work
        self.t_setup0 = t_setup0
        self.tracer = Tracer(bool(args.trace))
        self.engine: Engine | None = None
        self.gen: Generator | None = None
        self.layer: dict[str, float] = {}
        self.info: dict = {"workload": args.workload, "seed": args.seed,
                           "master": f"local[{K}]", "driver_heap": DRIVER_HEAP,
                           "jvm_options": JVM_HEAP_SHAPE, "shuffle_partitions": K}
        self._steal0 = cpu_steal_s()
        self.checks: dict[str, bool] = {}

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks[name] = bool(ok)
        if not ok:
            log(f"CHECK FAILED {name}: {detail}")

    def close(self) -> None:
        # CPU time the hypervisor took from this VM during the run: a large
        # value marks a run measured under outside load
        self.info["cpu_steal_s"] = cpu_steal_s() - self._steal0
        if self.gen is not None:
            self.gen.close()
        try:
            if self.engine is not None:
                self.engine.stop()
            elif "pyspark" in sys.modules:
                stop_jvm()  # stopped while the session was starting
        except Exception as exc:  # teardown must go on
            log(f"engine stop: {exc!r}")


def setup(run: Run) -> None:
    """The generator stages its input while the session starts."""
    a = run.args
    run.gen = Generator(a.workload, a.seed, a.seconds, run.work)
    run.engine = Engine(run.work, run.tracer, f"local[{K}]")
    run.layer["session.start_s"] = run.engine.start_s
    with run.tracer.span("gen"):
        run.layer["gen.stage_s"] = run.gen.ready()


def finish_e2e(run: Run, t_start: float, throughput: float, lat, weights=None) -> dict:
    run.info["setup_parts_s"] = {k: run.layer.get(k) for k in
                                 ("gen.stage_s", "session.start_s", "session.warmup_s")}
    run.info["latency_samples"] = int(np.sum(weights) if weights is not None else len(lat))
    run.info["latency_median_by_quarter_s"] = [float(np.median(q)) for q in
                                               np.array_split(np.asarray(lat), 4) if len(q)]
    return {
        "setup_s": t_start - run.t_setup0,
        "throughput_rps": throughput,
        "latency_p50_s": stats.percentile(lat, 50, weights),
        "latency_p90_s": stats.percentile(lat, 90, weights),
        "latency_p99_s": stats.percentile(lat, 99, weights),
    }


