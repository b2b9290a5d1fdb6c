"""The plain-Python curate reference agrees with the program's DuckDB
oracle, queries._curate_pack_oracle(), on generated corpora. The oracle
needs about a minute for 150 documents."""

import duckdb
import pyarrow as pa
import pytest

import curate_ref
import gen


def test_perm_family_matches_the_program():
    from flink_kafka_table_api_spark.operators import dedup

    assert tuple(dedup.PERM_A[:8]) == curate_ref.PERM_A
    assert tuple(dedup.PERM_B[:8]) == curate_ref.PERM_B


@pytest.mark.parametrize("seed", [11])
def test_reference_equals_duckdb_oracle(seed):
    from flink_kafka_table_api_spark import queries

    c = gen.corpus(seed, 150)
    want = curate_ref.curate_and_pack(c["doc_id"], c["text"], c["source"])
    con = duckdb.connect()
    con.register("documents", pa.table(c))
    got = con.execute(f"SELECT doc_id, n_tokens, seq_id FROM ({queries._curate_pack_oracle()})"
                      " ORDER BY doc_id").fetchall()
    assert [tuple(r) for r in got] == want
    assert 0 < len(want) < 150  # the corpus exercises every filter
