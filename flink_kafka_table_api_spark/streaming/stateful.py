"""Custom stateful streaming operators via applyInPandasWithState
(SURVEY.md §2.2 'Streaming: stateful ops'; the escape hatch BASELINE.json
points at for operators Spark lacks natively).

The example operator — per-key running totals that survive across
micro-batches — is the minimal shape every custom stateful op shares:
read state, fold the batch, write state, emit. Arrow-batched like all
Pandas interop, state store-backed like built-in streaming aggs (RocksDB
provider on a real cluster keeps state off-heap and checkpointed).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_TOTALS_OUTPUT = "user_id long, n_events long, total_value double"
RUNNING_TOTALS_STATE = "n long, total double"


def _running_totals_fn(key, pdf_iter: Iterator, state: GroupState):
    import pandas as pd

    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


SESSIONS_OUTPUT = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double"
)


def _ts_us(series) -> list[int]:
    """Epoch-micros from a pandas datetime series, robust to the Arrow
    transfer unit. Micros preserve Spark TimestampType exactly."""
    return series.astype("datetime64[us]").astype("int64").tolist()


def _timeout_ms(deadline_us: int) -> int:
    """State-store timers are epoch-ms; round the us deadline UP so a timer
    never fires before the oracle-visible deadline."""
    return -(-deadline_us // 1000)


def _fold_sessions(state, ts_us, vals, gap_us):
    """Vectorized session fold: merge a key's (sorted-by-(ts, value)) batch
    into its open-session state.

    Returns (completed, new_state): completed = list of closed
    (start, last, n, total) sessions in time order; new_state = the still-
    open trailing session or None. Break detection and per-session sums are
    numpy (reduceat) — the row-at-a-time Python loop was the entire cost of
    this operator at scale (~10x slower on wide keys)."""
    import numpy as np

    t = np.asarray(ts_us, dtype=np.int64)
    v = np.asarray(vals, dtype=np.float64)
    if len(t) == 0:
        return ([], state)
    order = np.lexsort((v, t))  # == sorted(zip(ts, vals)) ordering
    t, v = t[order], v[order]
    breaks = np.empty(len(t), dtype=bool)
    breaks[0] = state is None or t[0] > state[1] + gap_us
    breaks[1:] = (t[1:] - t[:-1]) > gap_us
    starts = np.flatnonzero(breaks)
    sums = np.add.reduceat(v, starts) if len(starts) else np.array([])
    sessions = []
    if state is not None and breaks[0]:
        sessions.append(tuple(state))  # batch starts past the gap: close it
    # group g spans [starts[g], next start); groups attach to state when
    # breaks[0] is False (then group 0 extends the open session)
    bounds = np.append(starts, len(t))
    for g in range(len(starts)):
        lo, hi = bounds[g], bounds[g + 1]
        s = (int(t[lo]), int(t[hi - 1]), int(hi - lo), float(sums[g]))
        if g == 0 and state is not None and not breaks[0]:
            s = (state[0], max(state[1], s[1]), state[2] + s[2],
                 state[3] + s[3])
        sessions.append(s)
    return (sessions[:-1], sessions[-1])


SESSION_STATE = "start long, last long, n long, total double"


def _session_timeout_fn_factory(gap_us: int):
    def fn(key, pdf_iter: Iterator, state: GroupState):
        import pandas as pd

        def emit(sessions):
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(sessions),
                    "session_start": pd.to_datetime(
                        [s[0] for s in sessions], unit="us"),
                    "session_end": pd.to_datetime(
                        [s[1] + gap_us for s in sessions], unit="us"),
                    "n_events": [s[2] for s in sessions],
                    "total_value": [s[3] for s in sessions],
                }
            )

        if state.hasTimedOut:
            closed = tuple(state.get)
            state.remove()
            yield emit([closed])
            return
        cur = tuple(state.get) if state.exists else None
        ts_all, v_all = [], []
        for pdf in pdf_iter:
            ts_all.extend(_ts_us(pdf["ts"]))
            v_all.extend(pdf["value"].tolist())
        completed, cur = _fold_sessions(cur, ts_all, v_all, gap_us)
        if completed:
            yield emit(completed)
        if cur is not None:
            state.update(cur)
            state.setTimeoutTimestamp(_timeout_ms(cur[1] + gap_us))

    return fn


def session_windows_timeout(
    stream: DataFrame,
    *,
    gap_seconds: int = 60,
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark_delay: str = "1 second",
) -> DataFrame:
    """Event-time session windows with timeout-driven close on the
    applyInPandasWithState runtime: inline close on an in-stream gap,
    watermark-timeout close for silent keys, open sessions withheld. Built
    on GroupStateTimeout.EventTimeTimeout, so it runs wherever Spark 3.4+
    runs. This mirrors Flink's KeyedProcessFunction-with-timers pattern the
    reference's runtime offers but its pipeline never uses."""
    gap_us = gap_seconds * 1_000_000
    return (
        stream.select(key_col, ts_col, "value")
        .withWatermark(ts_col, watermark_delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            _session_timeout_fn_factory(gap_us),
            outputStructType=SESSIONS_OUTPUT,
            stateStructType=SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def running_totals(stream: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Cumulative per-key (count, sum) emitted every micro-batch — state
    persists across batches in the state store, exactly the semantics a
    Flink KeyedProcessFunction with ValueState would give."""
    return (
        stream.select(key_col, "value")
        .groupBy(key_col)
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=RUNNING_TOTALS_OUTPUT,
            stateStructType=RUNNING_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
