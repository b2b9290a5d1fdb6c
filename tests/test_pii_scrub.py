"""PII scrub (`operators/text.py pii_scrub`, built round 8,
registration-bound for round 9/10): per-document email/phone/IP/card
detection with octet and Luhn validation, plus tag redaction — pure
expression algebra, replayed verbatim by the DuckDB oracle
(`pii_scrub_sql` in queries.py). Fixtures pin the validation semantics:
known Luhn-valid/invalid card numbers, out-of-range octets counted out
but still redacted, span removal from the redacted text."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.operators.text import pii_scrub
from flink_kafka_table_api_spark.queries import pii_scrub_sql

SF = "/root/testdata/sf0.001"


DOCS = [
    # 4111111111111111 is the canonical Luhn-valid test PAN; flipping
    # the check digit (…12) must fail the checksum but still redact
    (1, "pay with 4111111111111111 or 4111111111111112 today"),
    # valid + out-of-range dotted quads: both redacted, one counted
    (2, "hosts 255.255.255.255 and 256.1.1.1 in the log"),
    (3, "mail a.b@x.co and c_d%e@y.org.uk, call 555-123-4567"),
    (4, "no pii here at all"),
    # a 12-digit run is below the card floor; 17 digits has no
    # 13-16-digit \b-bounded submatch
    (5, "ids 123456789012 and 12345678901234567"),
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_validation_and_counts(spark):
    got = {r.doc_id: r.asDict() for r in pii_scrub(_df(spark)).collect()}
    assert got[1]["n_cc_luhn"] == 1          # only the valid PAN counts
    assert got[1]["redacted"].count("<CC>") == 2  # both redact
    assert "4111111111111111" not in got[1]["redacted"]
    assert got[2]["n_ipv4"] == 1             # 256.x fails octet check
    assert got[2]["redacted"].count("<IP>") == 2
    assert got[3]["n_emails"] == 2 and got[3]["n_phones"] == 1
    assert "<EMAIL>" in got[3]["redacted"]
    assert "<PHONE>" in got[3]["redacted"]
    assert got[4] == {
        "doc_id": 4, "n_emails": 0, "n_phones": 0, "n_ipv4": 0,
        "n_cc_luhn": 0, "redacted": "no pii here at all",
    }
    assert got[5]["n_cc_luhn"] == 0
    assert "<CC>" not in got[5]["redacted"]


def test_fixture_matches_oracle_fragments(spark):
    """The oracle fragments must replay the fixture identically —
    pattern/validation parity on the hand-built edge cases, not just on
    corpus text."""
    from flink_kafka_table_api_spark.operators.text import (
        pii_scrub_sql as frag,
    )

    got = sorted(
        tuple(str(x) for x in r)
        for r in pii_scrub(_df(spark)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR)"
    )
    con.executemany("INSERT INTO d VALUES (?, ?)", DOCS)
    exp = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(
            f"SELECT doc_id, {frag('text')} FROM d"
        ).fetchall()
    )
    assert got == exp


def test_live_signal_on_testdata():
    """tests/test_oracle_parity.py pins the registered pii_scrub to this oracle
    at sf0.001; the live signal is checked on the oracle's rows."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    # live signal: the validity folds discriminate — some injected docs
    # carry a Luhn-valid card / octet-valid IP and some don't
    lv = con.execute(f"""
      WITH o AS ({pii_scrub_sql()})
      SELECT COUNT(*) FILTER (n_cc_luhn > 0),
             COUNT(*) FILTER (n_cc_luhn = 0 AND doc_id % 3 <> 0),
             COUNT(*) FILTER (n_ipv4 > 0),
             COUNT(*) FILTER (n_ipv4 = 0 AND doc_id % 3 <> 0)
      FROM o
    """).fetchone()
    assert all(c > 0 for c in lv), lv
