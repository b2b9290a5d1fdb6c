"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over flink_kafka_table_api_spark.queries — the engine's query
registry. The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
values).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_kafka_table_api_spark import queries as _q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (the reference pipeline, SURVEY.md §7.1) on sf0.001."""
    return _q.entry(spark)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query (same column
    names, same types, same values)."""
    return _q.oracle_sql()
