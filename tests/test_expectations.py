"""Declarative expectations engine (`operators/expectations.py`, built
round 8, registration-bound for a round-9/10 gate slot): rule list ->
violations report, with aggregate-shaped rules FUSED into one pass per
table. Pre-validated against a DuckDB replay of every count over the
real testdata tables, plus seeded-violation fixtures per rule kind and
a plan pin that a multi-rule table really is scanned once."""

from __future__ import annotations

import duckdb

from flink_kafka_table_api_spark.queries import (
    data_expectations_sql as oracle_sql,
)
from flink_kafka_table_api_spark.operators.expectations import (
    TESTDATA_CONTRACT,
    expectations_report,
)

SF = "/root/testdata/sf0.001"


def _report(out):
    return sorted(
        (r.rule, r.table, r.column, r.n_violations, r.passed)
        for r in out.collect()
    )


def test_seeded_violations_per_rule_kind(spark):
    t = spark.createDataFrame(
        [
            (1, "a", 5.0, 10),
            (2, "a", -1.0, 10),      # in_range violation (lo=0)
            (2, "z", 3.0, None),     # unique dup + accepted_values 'z'
            (None, "b", 99.0, 30),   # not_null violation on id
        ],
        "id long, cat string, x double, fk long",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    out = expectations_report(
        {"t": t, "p": parent},
        [
            {"rule": "not_null", "table": "t", "column": "id"},
            {"rule": "unique", "table": "t", "columns": ["id"]},
            {"rule": "accepted_values", "table": "t", "column": "cat",
             "values": ["a", "b"]},
            {"rule": "in_range", "table": "t", "column": "x",
             "lo": 0.0, "hi": 100.0},
            {"rule": "relationship", "table": "t", "column": "fk",
             "parent_table": "p", "parent_column": "pk"},
        ],
    )
    got = _report(out)
    assert got == sorted([
        ("not_null", "t", "id", 1, False),
        # ids (1,2,2): 3 non-null rows, 2 distinct -> 1 surplus; the
        # NULL id is NOT a duplicate of anything
        ("unique", "t", "id", 1, False),
        ("accepted_values", "t", "cat", 1, False),
        ("in_range", "t", "x", 1, False),
        # fks (10,10,30): 30 has no parent; NULL fk is not an orphan
        ("relationship", "t", "fk->p.pk", 1, False),
    ])


def test_clean_table_passes(spark):
    t = spark.createDataFrame([(1, "a"), (2, "b")], "id long, cat string")
    out = expectations_report(
        {"t": t},
        [
            {"rule": "not_null", "table": "t", "column": "id"},
            {"rule": "unique", "table": "t", "columns": ["id"]},
            {"rule": "accepted_values", "table": "t", "column": "cat",
             "values": ["a", "b"]},
        ],
    )
    assert all(r.passed and r.n_violations == 0 for r in out.collect())


def test_multi_rule_table_is_scanned_once(spark):
    """Compilation claim: N aggregate rules on one table -> ONE
    aggregate over ONE scan (no join, no union of per-rule scans of the
    same input)."""
    t = spark.read.parquet(f"{SF}/orders.parquet")
    out = expectations_report(
        {"orders": t},
        [
            {"rule": "not_null", "table": "orders",
             "column": "o_custkey"},
            {"rule": "accepted_values", "table": "orders",
             "column": "o_orderstatus", "values": ["O", "F", "P"]},
            {"rule": "in_range", "table": "orders",
             "column": "o_totalprice", "lo": 0.0, "hi": 1e9},
        ],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


RULES = TESTDATA_CONTRACT


def test_oracle_has_one_row_per_rule():
    """tests/test_oracle_parity.py pins the registered data_expectations to
    this oracle at sf0.001; its one row per rule is checked on the
    oracle's rows."""
    con = duckdb.connect()
    for t in ("orders", "events", "part", "lineitem", "customer",
              "nation", "region"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    assert len(con.execute(oracle_sql()).fetchall()) == len(RULES)
