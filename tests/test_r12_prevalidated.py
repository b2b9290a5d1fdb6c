"""Round-12 pre-validated operators (the staging pattern, rounds
ahead): edit_similarity_join (Ed-Join-style q-gram-filtered Levenshtein
self-join), ngram_novelty (per-document corpus-first shingle
attribution), cusum_drift (Page's CUSUM mean-shift audit over daily
event counts), and zipf_gini_audit (token-distribution health: Gini +
fitted Zipf exponent). Each pinned against its DuckDB oracle over the
real sf0.001 tables plus targeted behavior fixtures."""

from __future__ import annotations

import duckdb
import pytest

import flink_kafka_table_api_spark.operators.dedup as dd
import flink_kafka_table_api_spark.operators.text as tx
import flink_kafka_table_api_spark.operators.timeseries as tsops

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("documents", "part", "events"):
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


# ---------------------------------------------------------------------------
# edit_similarity_join
# ---------------------------------------------------------------------------

def test_edit_similarity_join_oracle_parity_on_testdata(spark, con):
    part = spark.read.parquet(f"{SF}/part.parquet")
    got = sorted(
        tuple(r)
        for r in dd.edit_similarity_join(
            part, name_col="p_name", k=2, q=2
        ).collect()
    )
    exp = sorted(
        tuple(r)
        for r in con.execute(
            dd.edit_similarity_join_sql("part", "p_name", k=2)
        ).fetchall()
    )
    assert len(got) > 5, "no edit-similar name pairs: dead signal"
    assert got == exp


def test_edit_similarity_join_blocks_partition_pair_space(spark):
    """Pairs must arrive exactly once whether they fall in the
    long-long q-gram block or the short-broadcast block, and the
    threshold is exact: dist k+1 pairs never appear."""
    rows = [
        # long-long, dist 1 (one substitution)
        (1, "cold widget"), (2, "gold widget"),
        # long-long, dist 3 — beyond k=2, must NOT pair
        (3, "cold widget"),  # duplicate name rolls into n counts
        (4, "xylophone abc"),
        # short strings (len < q*(k+1) = 6): short block
        (5, "cat"), (6, "cut"), (7, "go"),
    ]
    df = spark.createDataFrame(rows, "pk long, name string")
    out = {
        (r.a_name, r.b_name): (r.dist, r.n_a, r.n_b)
        for r in dd.edit_similarity_join(
            df, name_col="name", k=2, q=2
        ).collect()
    }
    assert out[("cold widget", "gold widget")] == (1, 2, 1)
    assert ("cold widget", "xylophone abc") not in out
    assert out[("cat", "cut")] == (1, 1, 1)
    # short-long across the length gap: "go" vs "cat"/"cut" is dist 3
    assert ("cat", "go") not in out and ("cut", "go") not in out
    # no pair is emitted twice (dict build would have hidden it)
    pairs = dd.edit_similarity_join(
        df, name_col="name", k=2, q=2
    ).collect()
    assert len(pairs) == len({(r.a_name, r.b_name) for r in pairs})


def test_edit_similarity_join_multiset_qgrams_not_inflated(spark):
    """Repeated q-grams count min(multiplicity), not product: 'ababab'
    vs 'ababab' variants with heavy 'ab' repetition must still verify
    by exact distance, and the count filter must not lose the pair."""
    rows = [(1, "abababab"), (2, "ababaxab"), (3, "babababa")]
    df = spark.createDataFrame(rows, "pk long, name string")
    got = {
        (r.a_name, r.b_name): r.dist
        for r in dd.edit_similarity_join(
            df, name_col="name", k=2, q=2
        ).collect()
    }
    assert got[("abababab", "ababaxab")] == 1
    assert got[("abababab", "babababa")] == 2


# ---------------------------------------------------------------------------
# ngram_novelty
# ---------------------------------------------------------------------------

def test_ngram_novelty_oracle_parity_on_testdata(spark, con):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = sorted(tuple(r) for r in dd.ngram_novelty(docs).collect())
    exp = sorted(
        tuple(r) for r in con.execute(dd.ngram_novelty_sql()).fetchall()
    )
    assert len(got) == 500
    assert got == exp
    # the corpus has near-dups, so SOME doc must be non-novel
    assert any(r[3] < 1.0 for r in got)


def test_ngram_novelty_attributes_to_first_doc(spark):
    rows = [
        (10, "alpha beta gamma delta"),
        (20, "alpha beta gamma delta"),          # full copy: novelty 0
        (30, "alpha beta gamma epsilon zeta"),   # partial overlap
        (40, ""),                                # empty: 1 '' gram, novel
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dd.ngram_novelty(df).collect()}
    assert out[10].novelty == 1.0
    assert out[20].novelty == 0.0 and out[20].n_ngrams == 2
    # doc 30: grams 'alpha beta gamma' (seen in 10), 2 new ones
    assert (out[30].n_ngrams, out[30].n_novel) == (3, 2)
    assert out[40].n_ngrams == 1 and out[40].novelty == 1.0


# ---------------------------------------------------------------------------
# cusum_drift
# ---------------------------------------------------------------------------

def test_cusum_drift_oracle_parity_on_testdata(spark, con):
    from flink_kafka_table_api_spark.catalog import read_table

    ev = read_table(spark, SF, "events")
    got = sorted(
        (r[0], str(r[1]), *r[2:])
        for r in tsops.cusum_drift(ev).collect()
    )
    exp = sorted(
        (r[0], str(r[1]), *r[2:])
        for r in con.execute(tsops.cusum_drift_sql()).fetchall()
    )
    assert len(got) == len(exp) > 0
    assert got == exp
    # full calendar: every (type, day) cell exists
    types = {r[0] for r in got}
    days = {r[1] for r in got}
    assert len(got) == len(types) * len(days)


def test_cusum_drift_flags_sustained_shift_not_spikes(spark):
    """A series whose mean triples mid-way must flag drift after the
    shift; a noisy-but-stationary series must not; and a single-day
    point outlier on a series with natural variance must not (CUSUM
    needs SUSTAINED excess; note a spike on a zero-variance series
    would self-normalize to z ~ sqrt(n_days) and legitimately flag —
    hence the alternating base)."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for day in range(30):
        ts = base + dt.timedelta(days=day, hours=1)
        alt = 5 if day % 2 == 0 else 7  # natural day-to-day variance
        # 'shift': ~6/day then ~16/day from day 15 on
        for _ in range(alt if day < 15 else alt + 10):
            rows.append((eid, ts, "shift")); eid += 1
        # 'flat': stationary alternating 5/7
        for _ in range(alt):
            rows.append((eid, ts, "flat")); eid += 1
        # 'spike': alternating 5/7 with one 10-event day
        for _ in range(10 if day == 10 else alt):
            rows.append((eid, ts, "spike")); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    out = tsops.cusum_drift(df).collect()
    by_type = {}
    for r in out:
        by_type.setdefault(r.event_type, []).append(r)
    assert any(r.drift for r in by_type["shift"])
    assert not any(r.drift for r in by_type["flat"])
    assert not any(r.drift for r in by_type["spike"])
    # cusum_pos is reset-at-zero: never negative
    assert all(r.cusum_pos >= 0 and r.cusum_neg >= 0 for r in out)


def test_cusum_drift_counts_missing_days_as_zero(spark):
    """A type absent for the back half of the calendar gets 0-count
    days (downward drift), not a shorter series."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for day in range(30):
        ts = base + dt.timedelta(days=day)
        for _ in range(10):
            rows.append((eid, ts, "steady")); eid += 1
        if day < 15:
            for _ in range(10):
                rows.append((eid, ts, "vanished")); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    out = [
        r for r in tsops.cusum_drift(df).collect()
        if r.event_type == "vanished"
    ]
    assert len(out) == 30  # full span, zero-filled
    assert any(r.n_events == 0 for r in out)
    assert any(r.drift and r.cusum_neg > r.cusum_pos for r in out)


# ---------------------------------------------------------------------------
# zipf_gini_audit
# ---------------------------------------------------------------------------

def test_zipf_gini_audit_oracle_parity_on_testdata(spark, con):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = [tuple(r) for r in tx.zipf_gini_audit(docs).collect()]
    exp = [
        tuple(r) for r in con.execute(tx.zipf_gini_audit_sql()).fetchall()
    ]
    assert len(got) == 1
    assert got == exp


def test_zipf_gini_audit_capped_head_matches_oracle(spark, con):
    """max_rank smaller than the vocabulary exercises the histogram
    pre-prune + bounded row_number path against the oracle's explicit
    global ranks."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = [
        tuple(r)
        for r in tx.zipf_gini_audit(docs, max_rank=10).collect()
    ]
    exp = [
        tuple(r)
        for r in con.execute(
            tx.zipf_gini_audit_sql(max_rank=10)
        ).fetchall()
    ]
    assert got == exp


def test_zipf_gini_audit_distribution_shapes(spark):
    """Uniform frequencies -> Gini 0 and slope 0 (all f equal, ln(f)
    constant); a skewed corpus -> positive Gini, negative slope, and
    the top-1 share of the dominant token."""
    uniform = spark.createDataFrame(
        [(i, "aa bb cc dd") for i in range(8)], "doc_id long, text string"
    )
    u = tx.zipf_gini_audit(uniform).collect()[0]
    assert (u.n_tokens, u.vocab) == (32, 4)
    assert u.gini == 0.0 and u.zipf_slope == 0.0
    assert u.top1_share == 0.25

    skewed = spark.createDataFrame(
        [(1, "zz " * 32 + "yy " * 8 + "xx " * 2 + "ww")],
        "doc_id long, text string",
    )
    s = tx.zipf_gini_audit(skewed).collect()[0]
    assert (s.n_tokens, s.vocab) == (43, 4)
    assert s.gini > 0.3
    assert s.zipf_slope < -1.0
    assert s.top1_share == round(32 / 43, 6)
