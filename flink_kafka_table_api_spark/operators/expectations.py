"""Declarative data-expectations engine: a rule set compiled into the
fewest possible passes, reporting one row per rule.

The data-contract surface every ingest pipeline needs (the shape
popularized by dbt tests / Great Expectations — public tooling): a
declarative list of rules over a set of tables, evaluated into a
violations report. The reference's only constraint surface is the
Flink sink's NOT NULL rejection (SURVEY §7.4 #4; `not_null_audit` is
the registered twin of that behavior); this generalizes it to the
contract kinds a 100 TB training-data ingest actually enforces:

  {"rule": "not_null",        "table": t, "column": c}
  {"rule": "unique",          "table": t, "columns": [c, ...]}
  {"rule": "accepted_values", "table": t, "column": c, "values": [...]}
  {"rule": "in_range",        "table": t, "column": c,
                              "lo": x, "hi": y}
  {"rule": "relationship",    "table": t, "column": c,
                              "parent_table": p, "parent_column": pc}

Compilation, not interpretation: every aggregate-shaped rule on the
same table fuses into ONE hash-aggregate pass (a table with 10 rules
is scanned once, not 10 times — at 100 TB the scan IS the cost);
`unique` rides the same pass as count(*) - count(distinct ...);
`relationship` rules are the only joins — one left-anti count per
(child, parent) pair, broadcast or SMJ as AQE decides. The report is
deterministic and fully SQL-expressible, so the gate oracle replays
every count.

Output: (rule, table, column, n_violations, passed) — one row per
rule, in rule-list order recoverable by sorting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REPORT_SCHEMA = (
    "rule string, table string, column string, "
    "n_violations long, passed boolean"
)


def _agg_expr(rule: dict) -> tuple[str, object] | None:
    """(column-label, violation-count Column) for a fusable rule."""
    kind = rule["rule"]
    if kind == "not_null":
        c = F.col(rule["column"])
        return rule["column"], F.sum(c.isNull().cast("long"))
    if kind == "accepted_values":
        c = F.col(rule["column"])
        bad = c.isNotNull() & ~c.isin(rule["values"])
        return rule["column"], F.sum(bad.cast("long"))
    if kind == "in_range":
        c = F.col(rule["column"])
        bad = c.isNotNull() & ((c < rule["lo"]) | (c > rule["hi"]))
        return rule["column"], F.sum(bad.cast("long"))
    if kind == "unique":
        cols = rule["columns"]
        # surplus rows beyond one per distinct key (NULL keys are
        # excluded from the distinct count AND from the total, so an
        # all-NULL key row never counts as a duplicate of another)
        nn = None
        for c in cols:
            p = F.col(c).isNotNull()
            nn = p if nn is None else (nn & p)
        return ",".join(cols), (
            F.sum(nn.cast("long"))
            - F.count_distinct(*[F.col(c) for c in cols])
        )
    return None


def expectations_report(
    tables: dict[str, DataFrame], rules: list[dict]
) -> DataFrame:
    """Evaluate `rules` over `tables`: aggregate-shaped rules fuse into
    one pass per table; relationship rules run one anti-join count
    each. Returns the (rule, table, column, n_violations, passed)
    report."""
    spark = next(iter(tables.values())).sparkSession
    out: DataFrame | None = None

    by_table: dict[str, list[tuple[int, dict]]] = {}
    joins: list[tuple[int, dict]] = []
    for i, r in enumerate(rules):
        if r["table"] not in tables:
            raise KeyError(f"rule {i}: unknown table {r['table']!r}")
        if r["rule"] == "relationship":
            if r["parent_table"] not in tables:
                raise KeyError(
                    f"rule {i}: unknown parent {r['parent_table']!r}"
                )
            joins.append((i, r))
        elif _agg_expr(r) is None:
            raise ValueError(f"rule {i}: unknown kind {r['rule']!r}")
        else:
            by_table.setdefault(r["table"], []).append((i, r))

    for t, rs in by_table.items():
        aggs = []
        for i, r in rs:
            _, expr = _agg_expr(r)
            aggs.append(F.coalesce(expr, F.lit(0)).alias(f"__v{i}"))
        row = tables[t].agg(*aggs)
        # ONE pass per table; unpivot the single agg row to rule rows
        report = row.select(
            F.explode(F.array(*[
                F.struct(
                    F.lit(r["rule"]).alias("rule"),
                    F.lit(t).alias("table"),
                    F.lit(_agg_expr(r)[0]).alias("column"),
                    F.col(f"__v{i}").cast("long").alias("n_violations"),
                    (F.col(f"__v{i}") == 0).alias("passed"),
                )
                for i, r in rs
            ])).alias("r")
        ).select("r.*")
        out = report if out is None else out.unionByName(report)

    for i, r in joins:
        child = tables[r["table"]].select(
            F.col(r["column"]).alias("__k")
        ).filter(F.col("__k").isNotNull())
        parent = tables[r["parent_table"]].select(
            F.col(r["parent_column"]).alias("__k")
        )
        orphans = child.join(parent, "__k", "left_anti").agg(
            F.count("*").alias("__n")
        )
        report = orphans.select(
            F.lit("relationship").alias("rule"),
            F.lit(r["table"]).alias("table"),
            F.lit(
                f"{r['column']}->{r['parent_table']}.{r['parent_column']}"
            ).alias("column"),
            F.col("__n").cast("long").alias("n_violations"),
            (F.col("__n") == 0).alias("passed"),
        )
        out = report if out is None else out.unionByName(report)

    if out is None:
        return spark.createDataFrame([], REPORT_SCHEMA)
    return out


# The 11-rule contract the gate/bench twin evaluates over the driver
# testdata (tests/test_expectations.py replays every count in DuckDB):
# primary-key presence/uniqueness, domain enums, value ranges, and the
# three foreign keys a TPC-H-shaped warehouse enforces.
TESTDATA_CONTRACT: list[dict] = [
    {"rule": "not_null", "table": "orders", "column": "o_custkey"},
    {"rule": "not_null", "table": "events", "column": "user_id"},
    {"rule": "unique", "table": "orders", "columns": ["o_orderkey"]},
    {"rule": "unique", "table": "part", "columns": ["p_partkey"]},
    {"rule": "accepted_values", "table": "orders",
     "column": "o_orderstatus", "values": ["O", "F", "P"]},
    {"rule": "accepted_values", "table": "events", "column": "event_type",
     "values": ["click", "purchase", "error", "signup", "view"]},
    {"rule": "in_range", "table": "lineitem", "column": "l_quantity",
     "lo": 1.0, "hi": 50.0},
    {"rule": "in_range", "table": "events", "column": "value",
     "lo": 0.0, "hi": 1e6},
    {"rule": "relationship", "table": "orders", "column": "o_custkey",
     "parent_table": "customer", "parent_column": "c_custkey"},
    {"rule": "relationship", "table": "lineitem", "column": "l_partkey",
     "parent_table": "part", "parent_column": "p_partkey"},
    {"rule": "relationship", "table": "nation", "column": "n_regionkey",
     "parent_table": "region", "parent_column": "r_regionkey"},
]

__all__ = ["expectations_report", "REPORT_SCHEMA", "TESTDATA_CONTRACT"]
