"""The three workloads. Each runner sets up (generator staging, session,
warm-up of the exact plan shape), measures, checks outputs outside the timed
region, and returns (end-to-end metrics, attempted, failed).

The program is reached only through its public functions:
sources.files.stream_parquet_dir, sources.kafka.decode_avro_column /
encode_avro_column, plans.pipeline.approved_transactions,
streaming.windows.with_watermark / tumbling, streaming.lifecycle.cancel,
operators.* and plans.llm_curation.curate_and_pack.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import avro_layout as al
import curate_ref
import gen
import stats

from harness import (
    Engine, EngineProbe, ProgressLog, Run,
    committed_batches, dropped_by_watermark, finish_e2e, noop_write,
    log, process_all, settle, setup, sink_batches, source_batches,
    stream_layer_metrics, vm_hwm_mb, window_layer_metrics,
)

WINDOW = "100 milliseconds"
WINDOW_MS = 100
DRAIN_GRACE_S = 30.0  # open loop: time allowed after the last drop to commit

LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "engine.gc_s": "s", "engine.heap_used_mb_max": "MB",
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.shuffle_write_mb": "MB", "engine.shuffle_read_mb": "MB", "engine.spill_mb": "MB",
    "engine.executor_run_s": "s", "engine.executor_cpu_s": "s", "engine.scaling_x": "x",
    "sources.files.latest_offset_ms_p50": "ms", "sources.files.latest_offset_ms_p99": "ms",
    "sources.files.get_batch_ms_p50": "ms",
    "sources.kafka.decode_path_jvm": "bool", "sources.kafka.decode_rps": "1/s",
    "sources.kafka.encode_rps": "1/s",
    "plans.pipeline.rps": "1/s", "plans.pipeline.selectivity": "ratio",
    "streaming.batches": "count", "streaming.rows_per_batch_p50": "count",
    "streaming.query_planning_ms_p50": "ms", "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms", "streaming.batch_overhead_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms", "streaming.add_batch_ms_p99": "ms",
    "streaming.backlog_files_end": "count",
    "streaming.windows.state_rows_max": "count", "streaming.windows.state_mem_mb_max": "MB",
    "streaming.windows.state_commit_ms_p50": "ms",
    "streaming.windows.rows_dropped_by_watermark": "count",
    "streaming.windows.rows_updated": "count",
    "operators.curation.decontaminate_s": "s", "operators.text.quality_s": "s",
    "operators.text.kept_share": "ratio", "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count", "operators.dedup.verify_yield": "ratio",
    "operators.dedup.lsh_s": "s", "operators.dedup.cc_s": "s",
    "operators.curation.pack_s": "s", "plans.llm_curation.between_stages_s": "s",
    "gen.offered_rps": "1/s", "gen.lag_p99_s": "s", "gen.stage_s": "s",
    "trace.overhead_ms": "ms",
}


def kafka_struct():
    from pyspark.sql.types import (
        BinaryType, IntegerType, LongType, StringType, StructField, StructType,
        TimestampType,
    )
    return StructType([
        StructField("key", BinaryType()), StructField("value", BinaryType()),
        StructField("topic", StringType()), StructField("partition", IntegerType()),
        StructField("offset", LongType()), StructField("timestamp", TimestampType()),
        StructField("timestampType", IntegerType()),
    ])


def decode(df):
    from flink_kafka_table_api_spark.sources import kafka
    return kafka.decode_avro_column(df, al.TRANSACTION_AVSC,
                                    expected_schema_ids=[al.TRANSACTION_SCHEMA_ID])


def decode_path_jvm(decoded) -> int:
    """1 when the analyzed plan decodes with the in-repo JVM codec UDF."""
    plan = decoded._jdf.queryExecution().analyzed().toString()
    return int("fkta_avro_decode" in plan and "MapInPandas" not in plan)


def window_aggs():
    from pyspark.sql import functions as F
    return [F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("amount") * 100).cast("long")).alias("cents"),
            F.max("amountInUsd").alias("max_usd")]


def start_query(run: Run, src: str, name: str, *, one_file_per_batch: bool = False,
                windowed: bool = False):
    """The reference pipeline as a streaming query into a parquet sink; on
    tx_window, or when ``windowed``, into event-time windows instead."""
    from flink_kafka_table_api_spark.plans.pipeline import approved_transactions
    from flink_kafka_table_api_spark.sources import files, kafka
    from flink_kafka_table_api_spark.streaming import windows

    spark = run.engine.spark
    w = run.args.workload
    one = one_file_per_batch or w == "tx_drain"
    raw = files.stream_parquet_dir(spark, src, kafka_struct(),
                                   max_files_per_trigger=1 if one else None)
    dec = decode(raw)
    run.layer["sources.kafka.decode_path_jvm"] = decode_path_jvm(dec)
    if windowed or w == "tx_window":
        approved = approved_transactions(dec, with_processing_ts=False)
        out = windows.tumbling(windows.with_watermark(approved, "timestamp"), "timestamp",
                               WINDOW, group_by=["userId"], aggs=window_aggs())
    else:
        out = kafka.encode_avro_column(approved_transactions(dec), al.APPROVED_AVSC,
                                       schema_id=al.APPROVED_SCHEMA_ID)
    return (out.writeStream.format("parquet").outputMode("append")
            .option("path", run.path(name, "sink"))
            .option("checkpointLocation", run.path(name, "ck"))
            .start())


def warm_up(run: Run, name: str = "warm") -> float:
    """Run the exact plan shape over the warm-up files, one file per
    micro-batch so the per-batch path is compiled too. Returns seconds."""
    from flink_kafka_table_api_spark.streaming import lifecycle
    with run.tracer.span("streaming", phase=name):
        t = time.perf_counter()
        q = start_query(run, run.path("warm_src"), name, one_file_per_batch=True)
        q.processAllAvailable()
        lifecycle.cancel(q)
        return time.perf_counter() - t


def finish_engine(run: Run) -> None:
    """Peak RSS of the Spark JVM and its Python workers, plus this driver
    process; the generator's own peak is added when it exits."""
    run.info["peak_rss_mb"] = run.engine.peak_rss_mb() + vm_hwm_mb(os.getpid())


# ---------------------------------------------------------------- tx checks

def sink_rows(files: list[str], columns=None) -> pa.Table:
    tables = [pq.read_table(f, columns=columns) for f in files]
    return pa.concat_tables(tables) if tables else None


def expected_approved(ev: dict) -> dict:
    keep = ev["status"] != al.CANCELLED
    out = {k: ev[k][keep] for k in ("id", "amount", "currency", "ts_ms", "merchant", "user")}
    out["amount_usd"] = al.usd(out["amount"], out["currency"])
    return out


def compare_approved(name: str, got: dict, want: dict, t_lo: float, t_hi: float) -> bool:
    """Decoded sink rows against the reference filter + USD conversion:
    id set, count, every field, amountInUsd bit for bit."""
    if len(got["id"]) != len(want["id"]):
        log(f"{name}: {len(got['id'])} rows, expected {len(want['id'])}")
        return False
    o, p = np.argsort(got["id"], kind="stable"), np.argsort(want["id"], kind="stable")
    same = all(np.array_equal(got[k][o], want[k][p])
               for k in ("id", "currency", "ts_ms", "merchant", "user"))
    same &= np.array_equal(got["amount"][o].view(np.int64), want["amount"][p].view(np.int64))
    same &= np.array_equal(got["amount_usd"][o].view(np.int64),
                           want["amount_usd"][p].view(np.int64))
    proc = got["proc_ts_ms"]
    in_run = bool(len(proc) == 0 or ((proc >= int(t_lo * 1000) - 1000).all()
                                     and (proc <= int(t_hi * 1000) + 1000).all()))
    if not (same and in_run):
        log(f"{name}: field mismatch={not same} processingTimestamp outside run={not in_run}")
    return bool(same and in_run)


# ---------------------------------------------------------------- tx_drain

def tx_drain(run: Run):
    from flink_kafka_table_api_spark.streaming import lifecycle

    setup(run)
    run.layer["session.warmup_s"] = warm_up(run)
    probe = EngineProbe(run.engine) if run.tracer.enabled else None
    progress = ProgressLog()
    with run.tracer.span("streaming", phase="timed"):
        t_start = time.time()
        q = start_query(run, run.path("src"), "run")
        q.processAllAvailable()
        t_end = time.time()
        progress.poll(q)
        lifecycle.cancel(q)
    if probe:
        run.layer.update(probe.finish())
    finish_engine(run)
    run.gen.go(t_start)
    run.gen.done()

    with run.tracer.span("check"):
        src_of = source_batches(run.path("run", "ck"))
        sinks = sink_batches(run.path("run", "sink"))
        done = committed_batches(run.path("run", "ck"))
        files = sorted(os.listdir(run.path("src")))
        base_of = {f: int(f.split("_")[1].split(".")[0]) % gen.PLANS["tx_drain"].base_files
                   for f in files}
        batch_files: dict[int, list[str]] = {}
        for f, b in src_of.items():
            batch_files.setdefault(b, []).append(f)
        n_ev = gen.PLANS["tx_drain"].file_events
        want = {d: expected_approved(gen.drain_events(run.args.seed, d))
                for d in range(gen.PLANS["tx_drain"].base_files)}
        commit, rows, ok = [], [], True
        for b in sorted(batch_files):
            if b not in done or b not in sinks:
                continue
            t_commit, out_files = sinks[b]
            got = al.decode_approved(sink_rows(out_files, ["value"]).column("value").combine_chunks())
            fs = batch_files[b]
            if len(fs) != 1:
                run.check("drain_one_file_per_batch", False, f"batch {b}: {fs}")
                ok = False
                continue
            ok &= compare_approved(f"drain batch {b}", got, want[base_of[fs[0]]],
                                   t_start, t_end)
            commit.append(t_commit - t_start)
            rows.append(n_ev)
        attempted = len(files)
        failed = attempted - len(commit)
        run.check("drain_outputs", ok)
        run.check("drain_all_committed", failed == 0, f"{failed} backlog files not committed")
    lat = np.array(commit)
    e2e = finish_e2e(run, t_start, sum(rows) / max(lat.max(), 1e-9), lat, rows)
    if run.tracer.enabled:
        run.layer.update(stream_layer_metrics(progress.batches()))
        run.layer["streaming.backlog_files_end"] = failed
        traced_codec_calls(run, run.path("staged", "base_0000.parquet"))
        traced_window_layer(run)
        scaling(run, e2e["throughput_rps"])
    return e2e, attempted, failed


def scaling(run: Run, rate_k: float) -> None:
    """engine.scaling_x: drain throughput on local[K] over a one-file
    drain on local[1] in a fresh session."""
    from flink_kafka_table_api_spark.streaming import lifecycle

    run.engine.stop()
    run.engine = None
    run.engine = Engine(run.work, run.tracer, "local[1]")
    src1 = run.path("src1")
    os.makedirs(src1)
    os.link(run.path("staged", "base_0000.parquet"), os.path.join(src1, "b_0000.parquet"))
    warm_up(run, "warm1")
    with run.tracer.span("streaming", phase="local1"):
        t = time.time()
        q = start_query(run, src1, "run1")
        q.processAllAvailable()
        el = time.time() - t
        lifecycle.cancel(q)
    rate_1 = gen.PLANS["tx_drain"].file_events / el
    run.layer["engine.scaling_x"] = rate_k / rate_1
    run.info["local1_rps"] = rate_1


def traced_window_layer(run: Run) -> None:
    """streaming.windows on the drain's source and codec: the warm-up files,
    one per micro-batch, into tx_window's watermark and tumbling windows.
    Event time advances one watermark delay per file, so each batch closes
    the previous one's windows, and 2% of the events are far too late."""
    from flink_kafka_table_api_spark.streaming import lifecycle

    progress = ProgressLog()
    with run.tracer.span("streaming.windows"):
        q = start_query(run, run.path("warm_src"), "windows", one_file_per_batch=True,
                        windowed=True)
        q.processAllAvailable()
        progress.poll(q)
        lifecycle.cancel(q)
    run.layer.update(window_layer_metrics(progress.batches()))


def traced_codec_calls(run: Run, path: str) -> None:
    """Bounded batch calls into the codec and the pipeline over one input."""
    from flink_kafka_table_api_spark.plans.pipeline import approved_transactions
    from flink_kafka_table_api_spark.sources import files, kafka

    spark = run.engine.spark
    with run.tracer.span("sources.kafka", call="decode"):
        raw = files.read_parquet(spark, path)
        n = raw.count()
        t = time.perf_counter()
        noop_write(decode(raw))
        run.layer["sources.kafka.decode_rps"] = n / (time.perf_counter() - t)
    dec = decode(files.read_parquet(spark, path)).persist()
    dec.count()
    with run.tracer.span("plans.pipeline"):
        t = time.perf_counter()
        noop_write(approved_transactions(dec))
        run.layer["plans.pipeline.rps"] = n / (time.perf_counter() - t)
    appr = approved_transactions(dec).persist()
    kept = appr.count()
    run.layer["plans.pipeline.selectivity"] = kept / n
    with run.tracer.span("sources.kafka", call="encode"):
        t = time.perf_counter()
        noop_write(kafka.encode_avro_column(appr, al.APPROVED_AVSC,
                                            schema_id=al.APPROVED_SCHEMA_ID))
        run.layer["sources.kafka.encode_rps"] = kept / (time.perf_counter() - t)
    appr.unpersist()
    dec.unpersist()


# ---------------------------------------------------------------- open loop

def open_loop(run: Run):
    """tx_window's loop: publish drops on schedule while the query runs;
    returns what the checks need."""
    from flink_kafka_table_api_spark.streaming import lifecycle

    setup(run)
    run.layer["session.warmup_s"] = warm_up(run)
    probe = EngineProbe(run.engine) if run.tracer.enabled else None
    progress = ProgressLog()
    with run.tracer.span("streaming", phase="timed"):
        q = start_query(run, run.path("src"), "run")
        t_start = time.time()
        run.gen.go(t_start)
        # No progress polls while timing: each one serialises every retained
        # progress report on the driver the query runs on. The query keeps
        # the last 100 reports; at ~2 batches a second that covers runs of
        # up to ~45 s.
        while run.gen.proc.poll() is None and time.time() < t_start + run.args.seconds + 5:
            time.sleep(0.25)
        run.gen.done()
        t_gen_end = time.time()
        drained = process_all(q, DRAIN_GRACE_S)
        settle(q)
        progress.poll(q)
        lifecycle.cancel(q)
    if probe:
        run.layer.update(probe.finish())
    finish_engine(run)
    with open(run.path("gen_log.json")) as fh:
        gen_log = np.array(json.load(fh), dtype=np.float64).reshape(-1, 2)
    src_of = source_batches(run.path("run", "ck"))
    sinks = sink_batches(run.path("run", "sink"))
    done = committed_batches(run.path("run", "ck")) & set(sinks)
    n = len(gen_log)
    drop_batch = np.full(n, -1)
    for f, b in src_of.items():
        if f.startswith("drop_") and b in done:
            drop_batch[int(f[5:11])] = b
    if run.tracer.enabled:
        run.layer.update(stream_layer_metrics(progress.batches()))
        committed_by_end = sum(1 for b in drop_batch if b >= 0 and sinks[b][0] <= t_gen_end)
        run.layer["streaming.backlog_files_end"] = n - committed_by_end
        lag = gen_log[:, 1] - gen_log[:, 0]
        span = gen_log[-1, 1] - gen_log[0, 1]
        run.layer["gen.lag_p99_s"] = stats.quantile_or_nan(lag, 99)
        plan = gen.PLANS[run.args.workload]
        run.layer["gen.offered_rps"] = (n - 1) * plan.drop_events / span if span > 0 else 0.0
    run.info["drained_in_grace"] = drained
    return t_start, gen_log, drop_batch, sinks, progress


def tx_window(run: Run):
    import duckdb

    t_start, gen_log, drop_batch, sinks, progress = open_loop(run)
    plan = gen.PLANS["tx_window"]
    users = gen.UserSampler(plan.users, plan.zipf_s)
    with run.tracer.span("check"):
        committed = np.flatnonzero(drop_batch >= 0)
        evs = [gen.drop_events("tx_window", run.args.seed, i, users) for i in committed]
        ev = {k: np.concatenate([e[k] for e in evs]) for k in ("id", "amount", "currency",
                                                              "ts_ms", "status", "user", "late")}
        drop_of = np.repeat(committed, plan.drop_events)
        passed = ev["status"] != al.CANCELLED
        # the watermark follows the events that pass the filter
        final_wm = ev["ts_ms"][passed].max() - gen.WATERMARK_DELAY_MS
        on_time = pa.table({
            "user": ev["user"][passed & ~ev["late"]],
            "ts_ms": ev["ts_ms"][passed & ~ev["late"]],
            "amount": ev["amount"][passed & ~ev["late"]],
            "usd": al.usd(ev["amount"], ev["currency"])[passed & ~ev["late"]],
        })
        con = duckdb.connect()
        con.register("on_time", on_time)
        want = con.execute(f"""
            SELECT ts_ms // {WINDOW_MS} * {WINDOW_MS} AS ws, user, count(*) AS n,
                   sum(CAST(round(amount * 100) AS BIGINT)) AS cents, max(usd) AS max_usd
            FROM on_time GROUP BY 1, 2
            HAVING ts_ms // {WINDOW_MS} * {WINDOW_MS} + {WINDOW_MS} <= {final_wm}
            ORDER BY 1, 2""").fetchall()
        rows, row_batch = [], []
        for b in sorted(sinks):
            t = sink_rows(sinks[b][1])
            if t is None or t.num_rows == 0:
                continue
            ws = (t.column("window_start").to_numpy().astype("datetime64[ms]")
                  .astype(np.int64))
            uid = np.array([int(u[1:]) for u in t.column("userId").to_pylist()])
            for r in zip(ws, uid, t.column("n").to_numpy(), t.column("cents").to_numpy(),
                         t.column("max_usd").to_numpy()):
                rows.append(tuple(int(x) for x in r[:4]) + (float(r[4]),))
                row_batch.append(b)
        order = sorted(range(len(rows)), key=lambda i: rows[i][:2])
        got = [rows[i] for i in order]
        want = [(int(a), int(b), int(c), int(d), float(e)) for a, b, c, d, e in want]
        diff = [(g, w) for g, w in zip(got, want) if g != w][:3]
        run.check("window_aggregates", got == want,
                  f"{len(got)} windows emitted, {len(want)} expected; first differences {diff}")
        late_passed = int((ev["late"] & passed).sum())
        dropped = dropped_by_watermark(progress.batches())
        run.check("window_late_dropped", dropped == late_passed,
                  f"dropped {dropped}, generator late {late_passed}")
        # latency: from the creation of the first event that moves the
        # watermark past window_end, to the commit of the batch emitting it
        ts_pass = np.where(passed, ev["ts_ms"], np.iinfo(np.int64).min)
        cummax = np.maximum.accumulate(ts_pass)
        lat = []
        for i in order:
            w_end = rows[i][0] + WINDOW_MS
            first = int(np.searchsorted(cummax, w_end + gen.WATERMARK_DELAY_MS, side="left"))
            created = gen_log[drop_of[first], 0]
            lat.append(sinks[row_batch[i]][0] - created)
        failed = len(gen_log) - len(committed)
        run.check("window_all_committed", failed == 0, f"{failed} drops not committed")
        run.info["windows"] = {"keyed": len(lat), "time_windows": len({r[0] for r in rows})}
    if run.tracer.enabled:
        run.layer.update(window_layer_metrics(progress.batches()))
    events = len(committed) * plan.drop_events
    span = max(sinks[drop_batch[i]][0] for i in committed) - t_start
    e2e = finish_e2e(run, t_start, events / span, np.array(lat))
    return e2e, len(gen_log), failed


# ---------------------------------------------------------------- curate_batch

def curate_batch(run: Run):
    from flink_kafka_table_api_spark.caching import release_cached
    from flink_kafka_table_api_spark.plans.llm_curation import curate_and_pack
    from flink_kafka_table_api_spark.sources import files

    setup(run)
    spark = run.engine.spark
    # Warm up on the timed corpus itself: adaptive execution picks join
    # strategies by size, so a smaller corpus would compile other plans.
    with run.tracer.span("plans.llm_curation", phase="warmup"):
        t = time.perf_counter()
        curate_and_pack(files.read_parquet(spark, run.path("corpus.parquet"))).collect()
        release_cached()
        run.layer["session.warmup_s"] = time.perf_counter() - t
    probe = EngineProbe(run.engine) if run.tracer.enabled else None
    passes, outs = [], []
    t_start = time.time()
    with run.tracer.span("plans.llm_curation", phase="timed"):
        while not passes or time.time() - t_start < run.args.seconds:
            t = time.perf_counter()
            rows = curate_and_pack(files.read_parquet(spark, run.path("corpus.parquet"))).collect()
            release_cached()
            passes.append(time.perf_counter() - t)
            outs.append(sorted((r["doc_id"], r["n_tokens"], r["seq_id"]) for r in rows))
    if probe:
        run.layer.update(probe.finish())
    finish_engine(run)
    run.gen.go(t_start)
    run.gen.done()
    with run.tracer.span("check"):
        corpus = pq.read_table(run.path("corpus.parquet")).to_pydict()
        want = curate_ref.curate_and_pack(corpus["doc_id"], corpus["text"], corpus["source"])
        bad = [i for i, o in enumerate(outs) if o != want]
        run.check("curate_outputs", not bad,
                  f"passes {bad} differ from the reference ({len(want)} rows expected)")
    n_docs = len(corpus["doc_id"])
    run.info["passes_s"] = passes
    e2e = finish_e2e(run, t_start, n_docs / stats.median(passes), passes,
                     [n_docs] * len(passes))
    if run.tracer.enabled:
        traced_curation_stages(run, stats.median(passes))
    return e2e, len(passes), len(bad)


def traced_curation_stages(run: Run, e2e_pass_s: float) -> None:
    """Each curate_and_pack stage called alone over the corpus, its input
    cached so a stage's time is its own."""
    from pyspark.sql import functions as F

    from flink_kafka_table_api_spark.caching import release_cached
    from flink_kafka_table_api_spark.operators import curation, dedup, text
    from flink_kafka_table_api_spark.sources import files

    spark = run.engine.spark
    docs = files.read_parquet(spark, run.path("corpus.parquet")).persist()
    docs.count()
    L = run.layer

    def timed(layer: str, key: str, fn):
        with run.tracer.span(layer, call=key):
            t = time.perf_counter()
            out = fn()
            L[key] = time.perf_counter() - t
        return out

    bench = docs.filter(F.col("source") == gen.BENCH_SOURCE)
    train = docs.filter(F.col("source") != gen.BENCH_SOURCE)
    train = train.persist()
    n_train = train.count()
    clean = curation.decontaminate(train, bench, ngram_n=4).persist()
    timed("operators.curation", "operators.curation.decontaminate_s", clean.count)
    scored = text.with_quality_score(clean).select("doc_id", "quality_score")
    kept_ids = scored.filter(F.col("quality_score") >= 0.5).persist()
    n_kept = timed("operators.text", "operators.text.quality_s", kept_ids.count)
    L["operators.text.kept_share"] = n_kept / max(1, clean.count())
    kept = clean.join(kept_ids.select("doc_id"), "doc_id").persist()
    kept.count()

    def lsh():
        sig = dedup.minhash_signatures(kept, "doc_id", "text", num_hashes=8, shingle_k=3,
                                       portable=True)
        cand = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, "doc_id", bands=4, rows_per_band=2),
                                         "doc_id")
        L["operators.dedup.candidate_pairs"] = cand.count()
        pairs = dedup.lsh_verified_pairs(kept, "doc_id", "text", num_hashes=8, bands=4,
                                         rows_per_band=2, shingle_k=3, threshold=0.5,
                                         portable=True).persist()
        L["operators.dedup.verified_pairs"] = pairs.count()
        return pairs

    pairs = timed("operators.dedup", "operators.dedup.lsh_s", lsh)
    L["operators.dedup.verify_yield"] = (L["operators.dedup.verified_pairs"]
                                         / max(1, L["operators.dedup.candidate_pairs"]))
    clusters = timed("operators.dedup", "operators.dedup.cc_s",
                     lambda: dedup.connected_components(pairs).persist())
    clusters.count()
    survivors = kept.join(clusters.filter(~F.col("is_canonical")).select(F.col("id").alias("doc_id")),
                          "doc_id", "left_anti")
    timed("operators.curation", "operators.curation.pack_s",
          lambda: noop_write(curation.pack_sequences(survivors)))
    stage_sum = sum(L[k] for k in ("operators.curation.decontaminate_s", "operators.text.quality_s",
                                   "operators.dedup.lsh_s", "operators.dedup.cc_s",
                                   "operators.curation.pack_s"))
    L["plans.llm_curation.between_stages_s"] = e2e_pass_s - stage_sum
    run.info["curate_train_docs"] = n_train
    for df in (clusters, pairs, kept, kept_ids, clean, train, docs):
        df.unpersist()
    release_cached()


RUNNERS = {"tx_drain": tx_drain, "tx_window": tx_window, "curate_batch": curate_batch}
