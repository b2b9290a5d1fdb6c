"""Pin late_data.ts_shift / interval_micros against Spark's own
INTERVAL arithmetic and timestampToString format.

The streaming operators' per-batch watermark arithmetic
(`CAST(TIMESTAMP '{x}' - INTERVAL {d} AS STRING)`) moved driver-side in
round 10 (each spark.sql round trip measured ~160 ms); these tests are
the equivalence proof: for a grid of timestamps (whole seconds, every
fractional-precision shape, T- and space-separated) and day-time delays
(every supported unit, compound, plural/singular, add and subtract) the
Python result must be byte-identical to what spark.sql returns.
"""

from __future__ import annotations

import pytest

from flink_kafka_table_api_spark.streaming.late_data import (
    interval_micros,
    ts_shift,
)

TS_GRID = [
    "2024-01-02 03:04:05",
    "2024-01-02T03:04:05",
    "2024-03-01 00:00:00",
    "2024-02-29 23:59:59.999999",
    "2023-12-31 12:00:00.5",
    "2023-06-15 07:08:09.123",
    "2023-06-15 07:08:09.100",
    "2023-06-15 07:08:09.000123",
    "2024-01-01 00:00:00.000001",
]

DELAY_GRID = [
    "2 days",
    "1 day",
    "3 days",
    "12 hours",
    "90 minutes",
    "5 seconds",
    "1 week",
    "250 milliseconds",
    "7 microseconds",
    "1 day 6 hours",
    "86400 seconds",
]


@pytest.mark.parametrize("delay", DELAY_GRID)
@pytest.mark.parametrize("ts", TS_GRID)
def test_ts_shift_matches_spark(spark, ts, delay):
    for sign, op in ((-1, "-"), (1, "+")):
        want = spark.sql(
            f"SELECT CAST(TIMESTAMP '{ts}' {op} INTERVAL {delay} "
            "AS STRING)"
        ).first()[0]
        assert ts_shift(ts, delay, sign=sign) == want


@pytest.mark.parametrize("delay", DELAY_GRID)
def test_interval_micros_matches_spark(spark, delay):
    want = int(spark.sql(
        f"SELECT unix_micros(TIMESTAMP '1970-01-01 00:00:00' "
        f"+ INTERVAL {delay})"
    ).first()[0])
    assert interval_micros(delay) == want


def test_calendar_units_rejected():
    with pytest.raises(ValueError):
        interval_micros("1 month")
    with pytest.raises(ValueError):
        interval_micros("2 years")
    with pytest.raises(ValueError):
        interval_micros("days")


def test_clock_fold_is_utc_in_any_local_timezone(monkeypatch):
    """PySpark collects a TIMESTAMP as a naive datetime in the Python
    process's local timezone; the clock must still store the UTC wall
    clock that the session (pinned UTC) compares against. `fold` is pure
    driver arithmetic, so the clock is built without its staging job."""
    import time

    from pyspark.sql.types import TimestampType

    from flink_kafka_table_api_spark.streaming.late_data import EventClock

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        mx = TimestampType().fromInternal(1704755834743969)
        assert mx.isoformat() == "2024-01-08T18:17:14.743969"
        clock = EventClock.__new__(EventClock)
        clock.wm_key, clock.seen_key, clock.delay = (
            "watermark", "max_seen", "2 days",
        )
        assert clock.fold({}, mx) == {
            "watermark": "2024-01-06 23:17:14.743969",
            "max_seen": "2024-01-08T23:17:14.743969",
        }
    finally:
        monkeypatch.undo()
        time.tzset()
