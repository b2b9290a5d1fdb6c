"""Round-13 pre-validated operators (the staging pattern, rounds
ahead): readability_scores (Flesch/Flesch-Kincaid bands from integer
word/sentence/syllable counts), er_clusters (entity-resolution
clustering over the edit-similarity pair graph with attestation-based
canonicalization), and rake_keywords (RAKE unsupervised keyphrase
extraction). Each pinned against its DuckDB oracle over the real
sf0.001 tables plus targeted behavior fixtures."""

from __future__ import annotations

import duckdb
import pytest

import flink_kafka_table_api_spark.operators.dedup as dd
import flink_kafka_table_api_spark.operators.text as tx

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("documents", "part"):
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


# ---------------------------------------------------------------------------
# readability_scores
# ---------------------------------------------------------------------------

def test_readability_oracle_parity_on_testdata(spark, con):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = sorted(tuple(r) for r in tx.readability_scores(docs).collect())
    exp = sorted(
        tuple(r)
        for r in con.execute(tx.readability_scores_sql()).fetchall()
    )
    assert len(got) == 500
    assert got == exp


def test_readability_counts_by_hand(spark):
    rows = [
        # 6 words, 2 sentences, syllables: the(1) cat(1) sat.(1)
        # here(2: e/e) it(1) sleeps!(1: ee) -> 7
        (1, "The cat sat. Here it sleeps!"),
        (2, ""),                      # empty: all zeros
        (3, "rhythm"),                # no vowel letters except y: 1 group
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in tx.readability_scores(df).collect()}
    r1 = out[1]
    assert (r1.n_words, r1.n_sentences, r1.n_syllables) == (6, 2, 7)
    w, s, y = 6.0, 2.0, 7.0
    assert r1.flesch_reading_ease == round(
        206.835 - 1.015 * (w / s) - 84.6 * (y / w), 6
    )
    assert r1.fk_grade == round(
        0.39 * (w / s) + 11.8 * (y / w) - 15.59, 6
    )
    assert (out[2].n_words, out[2].flesch_reading_ease,
            out[2].fk_grade) == (0, 0.0, 0.0)
    # 'rhythm' has a y-group: exactly 1 syllable, never 0
    assert out[3].n_syllables == 1


# ---------------------------------------------------------------------------
# er_clusters
# ---------------------------------------------------------------------------

def test_er_clusters_oracle_parity_on_testdata(spark, con):
    part = spark.read.parquet(f"{SF}/part.parquet")
    got = sorted(
        tuple(r)
        for r in dd.er_clusters(part, name_col="p_name", k=2, q=2).collect()
    )
    exp = sorted(
        tuple(r)
        for r in con.execute(
            dd.er_clusters_sql("part", "p_name", k=2)
        ).fetchall()
    )
    assert len(got) == len(exp) > 30
    assert got == exp
    # the corpus genuinely merges names: some member is non-canonical
    assert any(r[0] != r[3] for r in got)


def test_er_clusters_transitive_merge_and_attestation(spark):
    """'jon smith' ~ 'john smith' ~ 'john smyth' chain-merges into ONE
    cluster even though the endpoints are distance 3 apart, and the
    canonical spelling is the most-attested member, not the min-label
    cluster id."""
    rows = (
        [(i, "john smith") for i in range(5)]
        + [(10 + i, "jon smith") for i in range(2)]
        + [(20, "john smyth")]
        + [(30, "quartz flask"), (31, "quartz flask")]
    )
    df = spark.createDataFrame(rows, "pk long, name string")
    out = {r.name: r for r in dd.er_clusters(df, name_col="name").collect()}
    assert len(out) == 4
    chain = {"john smith", "jon smith", "john smyth"}
    clusters = {out[n].cluster for n in chain}
    assert len(clusters) == 1  # transitive closure merged the chain
    assert all(out[n].canonical_name == "john smith" for n in chain)
    assert out["john smith"].n == 5
    # the singleton clusters as itself
    assert out["quartz flask"].cluster == "quartz flask"
    assert out["quartz flask"].canonical_name == "quartz flask"


def test_connected_components_string_ids_driver_and_distributed(spark):
    """The CC driver union-find path now follows the edge column type
    (strings for ER); the forced distributed path agrees."""
    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "a string, b string"
    )
    got_driver = sorted(
        tuple(r) for r in dd.connected_components(edges).collect()
    )
    got_dist = sorted(
        tuple(r)
        for r in dd.connected_components(
            edges, driver_edge_threshold=0
        ).collect()
    )
    exp = [
        ("a", "a", True), ("b", "a", False), ("c", "a", False),
        ("x", "x", True), ("y", "x", False),
    ]
    assert got_driver == exp
    assert got_dist == exp


# ---------------------------------------------------------------------------
# rake_keywords
# ---------------------------------------------------------------------------

def test_rake_oracle_parity_on_testdata(spark, con):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = [tuple(r) for r in tx.rake_keywords(docs).collect()]
    exp = [tuple(r) for r in con.execute(tx.rake_keywords_sql()).fetchall()]
    assert len(got) == 20
    assert got == exp
    # deterministic ordering: score DESC then phrase ASC
    assert got == sorted(got, key=lambda t: (-t[3], t[0]))


def test_rake_prefers_cohesive_phrases_and_drops_stopwords(spark):
    """RAKE's core property: words traveling in multiword phrases score
    deg/freq > 1, so a recurring multiword phrase outranks an equally
    frequent lone word; stopwords never surface in any phrase."""
    text = "deep neural network of the deep neural network and compiler"
    df = spark.createDataFrame(
        [(i, text) for i in range(3)], "doc_id long, text string"
    )
    out = tx.rake_keywords(df, top_k=10).collect()
    phrases = [r.phrase for r in out]
    assert "deep neural network" in phrases
    assert all("the" not in p.split() and "of" not in p.split()
               and "and" not in p.split() for p in phrases)
    by = {r.phrase: r for r in out}
    assert by["deep neural network"].score > by["compiler"].score
    assert by["deep neural network"].n_occurrences == 6
    assert by["compiler"].n_occurrences == 3
    # member words each occur 6 times, always in the 3-word phrase:
    # deg/freq = 3 per word -> phrase score 9
    assert by["deep neural network"].score == 9.0
    assert by["compiler"].score == 1.0
