"""Streaming MATCH_RECOGNIZE: incremental row-pattern matching with
watermark-gated emission.

FlinkCEP / Flink SQL's MATCH_RECOGNIZE runs on unbounded streams: the
NFA consumes rows per key as watermarks advance and emits a match only
when no earlier-timestamped row can still arrive. This module is the
Spark-first incremental twin of `operators/cep.py`, on the shared
drops machinery (admission by late_data.EventClock, per-batch publishes
under batch_commit).

The frozen-prefix argument that makes incremental emission sound:

  * a key's sequence is ordered by (ts, id); rows admitted later have
    ts > W_prev, so they always append AFTER the rows frozen at any
    earlier watermark — the frozen prefix only grows, and char
    positions inside it never shift;
  * a match found by finditer over the frozen prefix, scanning from
    the consumed offset, is FINAL iff it ends strictly BEFORE the
    frozen boundary: the char that terminated each quantifier is then
    itself frozen, and greedy extension would require matching through
    the boundary. A match touching the boundary stays pending (it may
    absorb future rows) and the scan stops there — emitting anything
    after it could contradict the eventual left-to-right
    skip-past-last-row scan;
  * therefore the emitted matches are always a prefix of the eventual
    batch scan, and the end-of-input flush (scan the rest from the
    consumed offset) makes the total EXACTLY the batch
    `match_recognize` over the admitted rows — which is what the
    DuckDB oracle replays.

  state layout (the batch_commit protocol's conventions):
    rows/batch_id=k/     admitted rows of drop k (classified char
                         attached — DEFINEs are row-local, so
                         classification at admission is stable)
    consumed/batch-k/    per-key consumed char offsets AFTER batch k
                         (only keys that ever emitted; tiny)
    out/batch_id=k/      matches finalized at batch k
    offsets/batch-k.json watermark

  per micro-batch k: ADMIT (ts > W_{k-1}) -> append rows/batch_id=k ->
  ADVANCE W_k -> AFFECTED keys = keys with stored rows in
  (W_{k-1}, W_k] (their frozen prefix grew; nothing else can change) ->
  rebuild those keys' frozen strings, scan from consumed offset, emit
  final matches + updated offsets -> measures via keyed range join on
  the frozen rows -> publish. End of input: flush from
  the consumed offsets over the full sequences (batch_id = n_chunks).

Cost model at 100 TB: per batch, only keys whose frozen prefix grew
are rescanned, from their consumed offset — O(unconsumed suffix), i.e.
bounded by watermark lag for keys that keep matching; a match-free
key's rescan is O(its history), the same as its one flush would cost
(Flink's NFA avoids this by carrying partial-match state; the rescan
trades that state for the frozen-prefix simplicity — stated, not
hidden). Nothing is driver-side except the bounded watermark scalars.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.operators.cep import (
    _CHARS,
    compile_pattern,
    tail_extensible,
)
from flink_kafka_table_api_spark.streaming.batch_commit import (
    BatchCommit,
    Publish,
    batch_dir,
    overwrite,
    partition_dir,
    read_back,
    read_version,
)
from flink_kafka_table_api_spark.streaming.late_data import (
    EventClock,
    stage_chunked_by,
)


def stream_match_recognize(
    spark: SparkSession,
    rows_chunked: DataFrame,
    state_dir: str,
    *,
    n_chunks: int,
    delay: str,
    key_col: str,
    ts_col: str,
    id_col: str,
    define: list[tuple[str, Column]],
    pattern: str,
    measures: dict[str, Column],
    chunk_col: str = "__chunk",
) -> DataFrame:
    """MATCH_RECOGNIZE over a stream of `n_chunks` drops under an
    event-time watermark of `delay`: PARTITION BY `key_col` ORDER BY
    (`ts_col`, `id_col`), row-local `define` / `pattern` / `measures`
    as in operators/cep.py. Too-late rows (ts <= W) are dropped
    deterministically; a match emits in the first batch whose
    watermark freezes a row PAST the match's end (batch_id column;
    n_chunks = the end-of-input flush). The final match set equals the
    batch match_recognize over the admitted rows."""
    names = [n for n, _ in define]
    regex = compile_pattern(pattern, names)
    ext_tail = tail_extensible(pattern)

    expr_sym, expr_ch = None, None
    for i, (name, pred) in enumerate(define):
        expr_sym = (
            F.when(pred, name) if expr_sym is None
            else expr_sym.when(pred, name)
        )
        expr_ch = (
            F.when(pred, _CHARS[i]) if expr_ch is None
            else expr_ch.when(pred, _CHARS[i])
        )
    classified = rows_chunked.select(
        "*", expr_sym.otherwise(F.lit(None)).alias("__symbol"),
        expr_ch.otherwise(".").alias("__ch"),
    )
    data_cols = [
        c for c in classified.columns if c != chunk_col
    ]
    src = stage_chunked_by(
        classified, os.path.join(state_dir, "src"),
        chunk_col=chunk_col, n_chunks=n_chunks, columns=data_cols,
    )
    rows_schema = classified.drop(chunk_col).schema
    rows_store = os.path.join(state_dir, "rows")
    consumed = os.path.join(state_dir, "consumed")
    out = os.path.join(state_dir, "out")
    commit = BatchCommit(
        state_dir, scoped=(consumed,), partitioned=(rows_store, out),
        versioned=(consumed,), meta_dir=os.path.join(state_dir, "offsets"),
    )
    clock = EventClock(spark, commit, src, rows_schema, ts_col, delay)

    @F.pandas_udf("array<struct<s: int, e: int, final: boolean>>")
    def scan(seq, frozen_len, offset):
        import re as _re

        rx = _re.compile(regex)
        def one(args):
            s, fl, off = args
            s = s or ""
            fl = int(fl)
            spans = []
            for m in rx.finditer(s, int(off or 0)):
                final = m.end() < fl or (
                    m.end() == fl and not ext_tail
                )
                spans.append(
                    {"s": m.start(), "e": m.end(), "final": final}
                )
                if not final:
                    # the match may still absorb rows (it reaches into
                    # or exactly to the boundary with an open tail):
                    # pending, and nothing after it is decided either
                    break
            return spans

        import pandas as pd

        return pd.Series(map(one, zip(seq, frozen_len, offset)))

    def read_rows() -> DataFrame:
        return read_back(spark, rows_store, rows_schema).select(
            *rows_schema.fieldNames()
        )

    def read_consumed(batch_id: int) -> DataFrame:
        return read_version(
            spark, consumed, batch_id, f"{key_col} long, __off int"
        )

    def emit(
        keys: DataFrame | None,
        horizon: str | None,
        prev_consumed: DataFrame,
        batch_id: int,
        flush: bool,
    ) -> Publish:
        """Scan `keys`' sequences (all stored rows when `flush`, else
        the frozen prefix up to `horizon`) from the consumed offsets;
        publish final matches to out/batch_id=`batch_id` and (unless
        `flush`) the new offsets to consumed/batch-`batch_id`."""
        stored = read_rows()
        scoped = (
            stored if keys is None
            else stored.join(keys, key_col, "left_semi")
        )
        w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
        rows = scoped.withColumn("__rn", F.row_number().over(w))
        frz = (
            F.lit(True) if flush or horizon is None
            else (F.col(ts_col) <= horizon)
        )
        # persist: rows feeds BOTH the per-key sequence fold (seqs) and
        # the measures join (matched); without the cache the window
        # sort re-runs once per consumer (only the exchange below it is
        # reusable). Bounded by the affected keys' stored history.
        rows = rows.withColumn("__frozen", frz).persist()
        seqs = rows.groupBy(key_col).agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__rn", "__ch"))
                    ),
                    lambda x: x["__ch"],
                ),
            ).alias("__seq"),
            F.sum(F.col("__frozen").cast("int")).cast("int")
            .alias("__flen"),
        )
        seqs = seqs.join(prev_consumed, key_col, "left").fillna({"__off": 0})
        if flush:
            seqs = seqs.withColumn("__flen", F.lit(1 << 30))
        spans = seqs.select(
            F.col(key_col).alias("__mk"),
            F.posexplode(
                scan("__seq", "__flen", "__off")
            ),
        ).select(
            "__mk",
            F.col("col.s").alias("__s"), F.col("col.e").alias("__e"),
            F.col("col.final").alias("__final"),
        ).persist()
        final = spans.filter(
            "__final" if not flush else F.lit(True)
        )
        matched = rows.join(
            final,
            (rows[key_col] == final["__mk"])
            & (rows["__rn"] >= final["__s"] + 1)
            & (rows["__rn"] <= final["__e"]),
            "inner",
        )
        matches_df = (
            matched.groupBy(key_col, "__s")
            .agg(*[c.alias(n) for n, c in measures.items()])
            .drop("__s")
            .withColumn("batch_id", F.lit(batch_id))
        )
        if not flush:
            # offsets advance to the end of each key's last final
            # match; keys without one keep their old offset
            adv = (
                spans.filter("__final")
                .groupBy("__mk")
                .agg(F.max("__e").cast("int").alias("__noff"))
                .select(
                    F.col("__mk").alias(key_col), "__noff",
                )
            )
            new_cons = (
                prev_consumed.join(adv, key_col, "full_outer")
                .select(
                    key_col,
                    F.greatest(
                        F.coalesce("__off", F.lit(0)),
                        F.coalesce("__noff", F.lit(0)),
                    ).cast("int").alias("__off"),
                )
            )
        writes = [overwrite(matches_df, partition_dir(out, batch_id))]
        if not flush:
            writes.append(overwrite(new_cons, batch_dir(consumed, batch_id)))
        return Publish(writes, release=[rows, spans])

    def process(batch: DataFrame, batch_id: int) -> Publish:
        t = clock.tick(batch, batch_id)
        t.admitted.write.mode("overwrite").parquet(
            partition_dir(rows_store, batch_id)
        )
        new_wm = t.watermark
        # keys whose frozen prefix grew this batch: stored rows with
        # ts in (W_{k-1}, W_k]
        affected = spark.createDataFrame([], f"{key_col} long")
        if new_wm is not None:
            grown = read_rows().filter(F.col(ts_col) <= new_wm)
            if t.prev is not None:
                grown = grown.filter(F.col(ts_col) > t.prev)
            affected = grown.select(key_col).distinct()
        return emit(
            affected, new_wm, read_consumed(batch_id - 1), batch_id,
            flush=False,
        )._replace(meta=t.meta)

    commit.drain(spark, src, rows_schema, process)
    commit.run(
        n_chunks,
        lambda: emit(None, None, read_consumed(n_chunks - 1), n_chunks,
                     flush=True),
        suffix="-flush",
    )

    # the published match rows' types, derived without a job
    out_schema = spark.createDataFrame([], rows_schema).groupBy(key_col).agg(
        *[c.alias(n) for n, c in measures.items()]
    ).schema.add("batch_id", "long")
    return read_back(spark, out, out_schema)


__all__ = ["stream_match_recognize"]
