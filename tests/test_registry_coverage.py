"""Registry guards (Spark-free): `queries()`/`oracle_sql()` are the one
registry, every registered query carries an oracle, and no registered
query is a union of other registered queries (each capability is
registered once and checked once against its own oracle), and the
out-of-order delivery schedule of the stream_* fixtures is written once
per engine side.
"""

from __future__ import annotations

import ast
import inspect
import re

from flink_kafka_table_api_spark import queries as q
from flink_kafka_table_api_spark.queries import ORACLES, QUERIES


def test_every_query_is_oracle_bearing():
    assert QUERIES.keys() == ORACLES.keys()


def _registered_bodies_calling_registered(src: str) -> list[tuple[str, str]]:
    """(caller, callee) pairs where a function decorated with
    ``@query(...)`` calls another ``@query``-decorated function."""
    tree = ast.parse(src)
    registered = {
        node.name: node
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        and any(
            isinstance(d, ast.Call)
            and isinstance(d.func, ast.Name)
            and d.func.id == "query"
            for d in node.decorator_list
        )
    }
    found = []
    for name, node in registered.items():
        for sub in ast.walk(node):
            if (
                isinstance(sub, ast.Call)
                and isinstance(sub.func, ast.Name)
                and sub.func.id in registered
                and sub.func.id != name
            ):
                found.append((name, sub.func.id))
    return sorted(found)


_SUITE_COPY = '''
@query("join_left", "SELECT 1")
def q_join_left(spark, sf):
    return _t(spark, sf, "customer")


@query("join_semi", "SELECT 1")
def q_join_semi(spark, sf):
    return _t(spark, sf, "customer")


@query("join_suite", "SELECT 1")
def q_join_suite(spark, sf):
    left = q_join_left(spark, sf).select(F.lit("left").alias("block"))
    semi = q_join_semi(spark, sf).select(F.lit("semi").alias("block"))
    return left.unionAll(semi)
'''


def test_source_scan_flags_a_suite_copy():
    assert _registered_bodies_calling_registered(_SUITE_COPY) == [
        ("q_join_suite", "q_join_left"),
        ("q_join_suite", "q_join_semi"),
    ]


def test_no_registered_query_runs_another_registered_query():
    found = _registered_bodies_calling_registered(inspect.getsource(q))
    assert found == [], (
        f"registered queries that run other registered queries: {found}"
    )


# The delivery-schedule literals: the late-shift moduli and the 10-day
# tercile, in either engine's spelling.
_SCHEDULE_LITERAL = re.compile(
    r"%\s*(?:61|37|53|41)\b|//\s*10\b|/\s*F\.lit\(10\)"
)


def test_delivery_schedule_is_written_once_per_engine_side():
    """Every schedule literal in queries.py sits inside its one Spark
    helper or its one SQL helper, so a new streaming query reuses them."""
    src = inspect.getsource(q)
    spans = {
        node.name: range(node.lineno, node.end_lineno + 1)
        for node in ast.parse(src).body
        if isinstance(node, ast.FunctionDef)
    }
    owners: dict[str | None, list[str]] = {}
    for i, line in enumerate(src.splitlines(), 1):
        for m in _SCHEDULE_LITERAL.finditer(line):
            owner = next((n for n, r in spans.items() if i in r), None)
            owners.setdefault(owner, []).append(re.sub(r"\s", "", m.group()))
    moduli = ["%53", "%41", "%61", "%37"]
    assert owners == {
        "_day_tercile": ["/F.lit(10)"],
        "_late_drop": moduli,
        "_day_tercile_sql": ["//10"],
        "_late_shift_sql": moduli,
    }, owners
