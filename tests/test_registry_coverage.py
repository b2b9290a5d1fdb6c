"""Registry guards (Spark-free): `queries()`/`oracle_sql()` are the one
registry, every registered query carries an oracle, and no registered
query is a union of other registered queries (each capability is
registered once and checked once against its own oracle).
"""

from __future__ import annotations

import ast
import inspect

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
