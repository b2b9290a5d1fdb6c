"""Registry guards: every registered query carries an oracle, the
rows-only carve-out stays empty, bench.py's headline names resolve, and
the green-evidence predicate rejects red and errored driver rows.
"""

from __future__ import annotations

from flink_kafka_table_api_spark.queries import (
    ORACLES,
    QUERIES,
    ROWS_ONLY_REASONS,
)


def _green(name: str, row: dict) -> bool:
    """GREEN-only evidence predicate (round-5 VERDICT item 3): an artifact
    ENTRY is not evidence — a red row (hash mismatch, error) means the
    driver looked and the query FAILED, which is exactly when it must come
    back into the gate. The rows-only carve-out was deleted in round 7
    (VERDICT r6 item 5): every registered query carries an oracle, so
    the only evidence is a hash-match row."""
    return bool(row.get("hash_match")) and not row.get("err")


def test_every_query_is_oracle_bearing():
    for name in QUERIES:
        assert name in ORACLES, f"{name} has no oracle"


def test_rows_only_registry_stays_empty():
    """VERDICT r6 item 5: the rows-only mechanism went dead when
    audio_features gained a contract oracle. Keep it dead — a new
    rows-only query is a conscious decision that must also revisit the
    _green predicate, not a silent registration."""
    assert ROWS_ONLY_REASONS == {}, (
        f"rows-only queries reappeared: {sorted(ROWS_ONLY_REASONS)} — the "
        "evidence predicate (_green) no longer honors rows-only rows; "
        "give them real oracles or consciously restore the carve-out."
    )


def test_bench_contract_names_resolve():
    """bench.py's headline set must stay runnable: every name resolves in
    the combined registry, and the calibration reference is a sane
    positive constant (the driver parses the JSON payload per round)."""
    import bench

    for name in bench.HEADLINE:
        assert name in bench.RUNNABLE, f"bench headline {name} unregistered"
    assert 0.01 < bench.CALIBRATION_REF_SEC < 10


def test_green_predicate_rejects_red_and_errored_rows():
    """The round-5 audit found the old predicate counted ANY artifact
    entry — including scd2_history's r4 red row and audio_features'
    no_oracle error — as coverage evidence. Pin the corrected
    semantics (rows-only carve-out deleted in round 7: a no_oracle row
    is never evidence anymore)."""
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 10, "oracle_rows": 10, "err": None}
    red_hash = dict(green, hash_match=False)
    errored = {"rows_match": None, "schema_match": None, "hash_match": None,
               "spark_rows": 10, "oracle_rows": None, "err": "oracle: boom"}
    rows_only = {"rows_match": None, "schema_match": None,
                 "hash_match": None, "spark_rows": 815,
                 "oracle_rows": None, "err": "no_oracle"}
    some_name = "any_query"
    assert _green(some_name, green)
    assert not _green(some_name, red_hash)
    assert not _green(some_name, errored)
    assert not _green(some_name, rows_only)
