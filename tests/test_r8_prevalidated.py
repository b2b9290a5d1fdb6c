"""Round-8 pre-validated operators (the established staging pattern:
operator + oracle SQL + local parity land a round BEFORE the registry has
a free gate slot): dup_ngram_coverage (the Gopher duplicate-n-gram
coverage signal), label_propagation (deterministic LPA communities), and
nb_scores (multinomial Naive Bayes train+score — the model-based
filtering family). Each is pinned against an independent Python replay
AND its DuckDB oracle over the real sf0.001 tables."""

from __future__ import annotations

import itertools
import math
import re
from collections import Counter

import duckdb
import pytest

import replays
import flink_kafka_table_api_spark.operators.classify as cl
import flink_kafka_table_api_spark.operators.graph as gr
import flink_kafka_table_api_spark.operators.text as tx

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_con():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    return con


# ---------------------------------------------------------------------------
# dup_ngram_coverage
# ---------------------------------------------------------------------------

def test_dup_ngram_coverage_matches_python_replay(spark):
    rows = [
        (1, "a b c a b c a b c"),          # everything duplicated
        (2, "x y"),                        # shorter than n
        (3, ""),                           # empty
        (4, "   "),                        # whitespace only
        (5, "one two three four five six seven"),  # no duplicates
        (6, "w w w w w w w w w w"),        # one gram repeated
        (7, "p q r s t p q r s t u v"),    # partial coverage
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: tuple(r)[1:]
        for r in tx.dup_ngram_coverage(df, n=5).collect()
    }
    for i, t in rows:
        assert got[i] == replays.py_dup_coverage(t, 5), (i, got[i])


def test_dup_ngram_coverage_oracle_parity_on_testdata(spark, docs_con):
    # n=2: the setting where the synthetic corpus has a live signal
    # (342/500 docs with nonzero coverage; exact 5-grams never repeat
    # in this testdata, so the eventual gate query pins n=2)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = {
        r.doc_id: tuple(r)[1:]
        for r in tx.dup_ngram_coverage(docs, n=2).collect()
    }
    want = {
        r[0]: tuple(r)[1:]
        for r in docs_con.execute(tx.dup_ngram_coverage_sql(n=2)).fetchall()
    }
    assert got == want and len(got) == 500
    # the synthetic corpus repeats heavily — the signal must be live
    assert sum(1 for v in got.values() if v[5] > 0) > 100


def test_dup_ngram_coverage_is_zero_shuffle(spark):
    # parquet scan input (already at session parallelism, so
    # ensure_parallelism adds no round-robin spread): the whole signal
    # must be one codegen'd projection per row — no shuffle, no explode,
    # no Python
    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        tx.dup_ngram_coverage(df, n=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the only permitted exchange is ensure_parallelism's round-robin
    # input spread (a local[32] utilization aid on tiny scans, absent on
    # real multi-file inputs) — never a KEY shuffle, explode, or Python
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Generate" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# label_propagation
# ---------------------------------------------------------------------------

def _clique(nodes):
    return [(a, b) for a, b in itertools.permutations(nodes, 2)]


def test_label_propagation_finds_clique_communities(spark):
    # two 6-cliques joined by a single bridge: LPA must separate them,
    # CC-style min-label propagation (the dedup.py operator) would not
    edges = _clique(range(6)) + _clique(range(10, 16)) + [(0, 10), (10, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        (r.node, r.label)
        for r in gr.label_propagation(df, iterations=4).collect()
    )
    assert got == replays.py_lpa(edges, 4)
    labs = dict(got)
    assert len({labs[v] for v in range(6)}) == 1
    assert len({labs[v] for v in range(10, 16)}) == 1
    assert labs[0] != labs[10]


def test_label_propagation_checkpoint_period_is_bit_identical(spark):
    edges = _clique(range(5)) + _clique(range(7, 11)) + [(0, 7), (7, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, gr.label_propagation(
        df, iterations=3, checkpoint_every=1).collect()))
    b = sorted(map(tuple, gr.label_propagation(
        df, iterations=3, checkpoint_every=3).collect()))
    assert a == b


def test_label_propagation_oracle_parity(spark):
    # deterministic synthetic graph in both engines (the triangle_count
    # gate recipe: arithmetic edge relations, symmetrized)
    edges = sorted(set(
        (i % 40, (i * 7 + 3) % 40) for i in range(200)
    ) - {(i, i) for i in range(40)})
    edges = sorted(set(edges) | {(b, a) for a, b in edges})
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        (r.node, r.label)
        for r in gr.label_propagation(df, iterations=4).collect()
    )
    esql = ("SELECT * FROM (VALUES "
            + ",".join(f"({s},{d})" for s, d in edges)
            + ") AS t(src, dst)")
    con = duckdb.connect()
    want = sorted(
        tuple(r)
        for r in con.execute(
            gr.label_propagation_sql(esql, iterations=4)
        ).fetchall()
    )
    assert got == want


def test_label_propagation_plan_shape(spark):
    """Per round: keyed hash shuffles only (votes + argmax), the argmax
    as a single aggregate — never a window sort over the vote table."""
    edges = _clique(range(6)) + _clique(range(10, 16)) + [(0, 10), (10, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = gr.label_propagation(df, iterations=2, checkpoint_every=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "rangepartitioning" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


# ---------------------------------------------------------------------------
# nb_scores
# ---------------------------------------------------------------------------

def test_nb_scores_separates_synthetic_classes(spark):
    rows = (
        [(i, "alpha beta gamma " * 3, "A") for i in range(10)]
        + [(i, "delta epsilon zeta " * 3, "B") for i in range(10, 20)]
        + [(20, "", "A")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    g = {(r.doc_id, r.label): r.score for r in cl.nb_scores(df).collect()}
    for i in range(10):
        assert g[(i, "A")] > g[(i, "B")]
    for i in range(10, 20):
        assert g[(i, "B")] > g[(i, "A")]
    # the empty document scores its bare class prior: ln(11/21)
    assert g[(20, "A")] == round(math.log(11 / 21), 6)


def test_nb_scores_oracle_parity_on_testdata(spark, docs_con):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = {
        (r.doc_id, r.label): (r.n_tokens, r.score)
        for r in cl.nb_scores(docs).collect()
    }
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in docs_con.execute(cl.nb_scores_sql()).fetchall()
    }
    assert got == want
    # one row per (document, observed label); 5 langs in the corpus
    assert len(got) == 500 * 5


def test_nb_scores_broadcasts_model_grid(spark):
    """The (label x vocab) log-prob grid must reach the scoring join as
    a broadcast — the corpus is never shuffled on token."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        cl.nb_scores(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


# ---------------------------------------------------------------------------
# source_kl_divergence
# ---------------------------------------------------------------------------

def test_source_kl_matches_python_replay(spark):
    import flink_kafka_table_api_spark.operators.curation as cu

    rows = [
        (1, "a a a b", "s1"),
        (2, "b c d e", "s2"),
        (3, "a b", "s1"),
        (4, "", "s3"),          # zero-token source: NO output row
        (5, "f f f f f", "s4"),  # disjoint vocabulary: the drift spike
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r.source: (r.n_tokens, r.distinct_tokens, r.kl_divergence)
        for r in cu.source_kl_divergence(df).collect()
    }
    assert got == replays.py_source_kl(rows)
    assert "s3" not in got
    # a fully-disjoint source maximizes drift among these
    assert got["s4"][2] == max(v[2] for v in got.values())
    # KL is non-negative
    assert all(v[2] >= 0 for v in got.values())


def test_source_kl_oracle_parity_on_testdata(spark, docs_con):
    import flink_kafka_table_api_spark.operators.curation as cu

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = {
        r.source: (r.n_tokens, r.distinct_tokens, r.kl_divergence)
        for r in cu.source_kl_divergence(docs).collect()
    }
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in docs_con.execute(cu.source_kl_divergence_sql()).fetchall()
    }
    assert got == want and len(got) == 20


# ---------------------------------------------------------------------------
# NULL-edge behavior (the round-5 hardening precedent): both engines must
# agree on NULL text / NULL label / NULL source rows
# ---------------------------------------------------------------------------

def test_staged_operators_null_edges_match_duckdb(spark):
    import flink_kafka_table_api_spark.operators.curation as cu

    rows = [
        (1, None, "s1", "en"),    # NULL text
        (2, "a b a b", None, None),  # NULL source AND label
        (3, "", "s1", "en"),      # empty text
        (4, "a b c a b", "s2", "de"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1, NULL, 's1', 'en'), (2, 'a b a b', NULL, NULL), "
        "(3, '', 's1', 'en'), (4, 'a b c a b', 's2', 'de')"
        ") t(doc_id, text, source, lang)"
    )

    got = {r.doc_id: tuple(r)[1:]
           for r in tx.dup_ngram_coverage(df, n=2).collect()}
    want = {r[0]: tuple(r)[1:]
            for r in con.execute(tx.dup_ngram_coverage_sql(n=2)).fetchall()}
    # NULL text keeps its row (n_tokens NULL, zero coverage) — both engines
    assert got == want and got[1][0] is None and got[1][6] == 0.0

    got_nb = {(r.doc_id, r.label): (r.n_tokens, r.score)
              for r in cl.nb_scores(df).collect()}
    want_nb = {(r[0], r[1]): (r[2], r[3])
               for r in con.execute(cl.nb_scores_sql()).fetchall()}
    # NULL label is carried as a class ROW but its token model is zeroed
    # by the null-rejecting label joins (both engines identically — see
    # the operator docstring's NULL-label caveat): every document scores
    # the NULL class's bare prior. NULL text scores bare priors with
    # n_tokens NULL.
    assert got_nb == want_nb and len(got_nb) == 12
    assert got_nb[(1, None)][0] is None

    got_kl = {r.source: (r.n_tokens, r.distinct_tokens, r.kl_divergence)
              for r in cu.source_kl_divergence(df).collect()}
    want_kl = {r[0]: (r[1], r[2], r[3])
               for r in con.execute(cu.source_kl_divergence_sql()).fetchall()}
    # NULL-source tokens count toward the corpus totals but produce no
    # output row (null-rejecting source join) — identical in both engines;
    # zero-token sources (s1 here: one NULL + one empty doc) also drop
    assert got_kl == want_kl and set(got_kl) == {"s2"}


def test_nb_score_heldout_matches_python_replay(spark):
    train_rows = (
        [(i, "alpha beta gamma", "A") for i in range(6)]
        + [(i, "delta epsilon zeta", "B") for i in range(6, 12)]
    )
    score_rows = [
        (100, "alpha beta NOVEL"),   # 1 OOV token
        (101, "delta zeta"),          # fully in-vocab
        (102, ""),                    # empty: bare priors
        (103, "NOVEL OTHER WORDS"),   # fully OOV
    ]
    tr = spark.createDataFrame(train_rows, "doc_id long, text string, lang string")
    sc = spark.createDataFrame(score_rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.label): (r.n_tokens, r.oov_tokens, r.score)
        for r in cl.nb_score_heldout(tr, sc).collect()
    }

    ct: Counter = Counter()
    tot: Counter = Counter()
    nd: Counter = Counter()
    for _, t, y in train_rows:
        nd[y] += 1
        for w in t.lower().split():
            ct[(y, w)] += 1
            tot[y] += 1
    vocab = {w for (_, w) in ct}
    v = len(vocab)
    n = len(train_rows)
    want = {}
    for i, t in score_rows:
        toks = t.lower().split()
        for y in nd:
            s = math.log(nd[y] / n)
            oov = 0
            for w in toks:
                if w in vocab:
                    s += math.log((ct.get((y, w), 0) + 1) / (tot[y] + v))
                else:
                    oov += 1
                    s += math.log(1 / (tot[y] + v))
            want[(i, y)] = (len(toks), oov, round(s, 6))
    assert got == want
    # separable classes classify correctly despite the OOV token
    assert got[(100, "A")][2] > got[(100, "B")][2]
    assert got[(101, "B")][2] > got[(101, "A")][2]
    # OOV accounting: fully-OOV doc reports every token unseen
    assert got[(103, "A")][1] == 3 and got[(103, "B")][1] == 3


def test_nb_score_heldout_zero_token_label_keeps_oov_contract(spark):
    """Review-found gap: a training label observed ONLY on empty
    documents must still honor the OOV contract (fallback
    ln(1/(0 + V)) per token, oov_tokens counted) rather than silently
    scoring bare prior with oov_tokens=0."""
    tr = spark.createDataFrame(
        [(1, "x y", "A"), (2, "", "B")],
        "doc_id long, text string, lang string",
    )
    sc = spark.createDataFrame([(100, "z z")], "doc_id long, text string")
    got = {
        (r.doc_id, r.label): (r.n_tokens, r.oov_tokens, r.score)
        for r in cl.nb_score_heldout(tr, sc).collect()
    }
    v = 2  # training vocab {x, y}
    assert got[(100, "B")] == (
        2, 2, round(math.log(1 / 2) + 2 * math.log(1 / (0 + v)), 6)
    )
    assert got[(100, "A")] == (
        2, 2, round(math.log(1 / 2) + 2 * math.log(1 / (2 + v)), 6)
    )


def test_staged_operators_are_partitioning_invariant(spark):
    """The ordered-fold recipe must make results independent of input
    partitioning (array_sort before every fold); pin it empirically for
    the three fold-carrying staged operators (dup_ngram_coverage is
    per-row and trivially invariant)."""
    import flink_kafka_table_api_spark.operators.curation as cu

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    shuffled = docs.repartition(7)

    a = sorted(map(tuple, cl.nb_scores(docs).collect()))
    b = sorted(map(tuple, cl.nb_scores(shuffled).collect()))
    assert a == b

    a = sorted(map(tuple, cu.source_kl_divergence(docs).collect()))
    b = sorted(map(tuple, cu.source_kl_divergence(shuffled).collect()))
    assert a == b

    edges = _clique(range(6)) + _clique(range(10, 16)) + [(0, 10), (10, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, gr.label_propagation(df, iterations=3).collect()))
    b = sorted(map(tuple, gr.label_propagation(
        df.repartition(5), iterations=3).collect()))
    assert a == b


def test_kcore_matches_reference_and_oracle(spark):
    """kcore (operators/graph.py): peel a 4-clique-with-pendant graph —
    the clique is the 3-core, the pendant path peels; DuckDB unrolled
    replay bit-exact; a ring (max degree 2) has an empty 3-core."""
    edges = _clique(range(4)) + [(3, 10), (10, 3), (10, 11), (11, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted((r.node, r.degree) for r in gr.kcore(df, k=3).collect())
    assert got == [(0, 3), (1, 3), (2, 3), (3, 3)]
    esql = ("SELECT * FROM (VALUES "
            + ",".join(f"({s},{d})" for s, d in edges)
            + ") AS t(src, dst)")
    con = duckdb.connect()
    want = sorted(
        tuple(r) for r in con.execute(gr.kcore_sql(esql, k=3)).fetchall()
    )
    assert got == want

    ring = [(i, (i + 1) % 6) for i in range(6)]
    ring += [(b, a) for a, b in ring]
    df2 = spark.createDataFrame(ring, "src long, dst long")
    assert gr.kcore(df2, k=3).count() == 0


def test_kcore_query_keeps_only_the_dense_tier():
    """The registered kcore query is non-trivial at sf0.001: the ring
    periphery peels and the dense tier survives (15 of 150 customers
    are core nodes). Spark's output equals this oracle in
    tests/test_oracle_parity.py."""
    from flink_kafka_table_api_spark.queries import ORACLES

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM '{SF}/customer.parquet'"
    )
    assert len(con.execute(ORACLES["kcore"]).fetchall()) == 15


# ---------------------------------------------------------------------------
# round-9 staged operators
# ---------------------------------------------------------------------------

GAZ = {"spark": "ENGINE", "join": "OP", "hash join": "OP2",
       "table scan merge": "OP3", "customer": "ENTITY"}


def test_gazetteer_tag_matches_python_replay(spark):
    rows = [
        (1, "alpha hash join beta hash join"),  # multi-word, repeated
        (2, "table scan merge x"),              # 3-token term at pos 0
        (3, ""),                                # no hits
        (4, "spark spark"),                     # unigram repeated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.term): (r.entity_type, r.n_mentions, r.first_pos)
           for r in tx.gazetteer_tag(df, GAZ).collect()}
    assert got == {
        (1, "hash join"): ("OP2", 2, 1),
        (1, "join"): ("OP", 2, 2),   # sub-term reports independently
        (2, "table scan merge"): ("OP3", 1, 0),
        (4, "spark"): ("ENGINE", 2, 0),
    }


def test_gazetteer_tag_oracle_parity_on_testdata(spark, docs_con):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = {(r.doc_id, r.term): (r.entity_type, r.n_mentions, r.first_pos)
           for r in tx.gazetteer_tag(docs, GAZ).collect()}
    want = {(r[0], r[1]): (r[2], r[3], r[4])
            for r in docs_con.execute(tx.gazetteer_tag_sql(GAZ)).fetchall()}
    assert got == want and len(got) > 500


def test_gazetteer_tag_rejects_overlong_terms(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        tx.gazetteer_tag(df, {"a b c d": "X"})


def test_event_paths_matches_python_replay(spark):
    from collections import Counter

    from flink_kafka_table_api_spark.operators.timeseries import event_paths

    raw = ([(1, i, "abcab"[i % 5]) for i in range(10)]
           + [(2, i, "aba"[i % 3]) for i in range(6)])
    df = spark.createDataFrame(
        [(eid, u, float(ts), t) for eid, (u, ts, t) in enumerate(raw)],
        "event_id long, user_id long, ts double, event_type string",
    )
    seqs: dict = {}
    for eid, (u, ts, t) in enumerate(raw):
        seqs.setdefault(u, []).append((ts, eid, t))
    c: Counter = Counter()
    for s in seqs.values():
        types = [t for _, _, t in sorted(s)]
        for i in range(len(types) - 2):
            c[">".join(types[i:i + 3])] += 1
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(r.path, r.n_occurrences)
           for r in event_paths(df, ts_col="ts").collect()]
    assert got == want


def test_event_paths_oracle_parity_on_testdata(spark):
    from flink_kafka_table_api_spark.catalog import read_table
    from flink_kafka_table_api_spark.operators.timeseries import (
        event_paths,
        event_paths_sql,
    )

    ev = read_table(spark, SF, "events")
    got = [(r.path, r.n_occurrences) for r in event_paths(ev).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    want = [tuple(r) for r in con.execute(event_paths_sql()).fetchall()]
    assert got == want and len(got) == 20


def test_r9_operators_tolerate_empty_input(spark):
    """Empty frames yield empty results, never throw (the hardening
    bar applied backward to the round-9 staged operators)."""
    from flink_kafka_table_api_spark.operators.timeseries import (
        event_paths,
    )

    docs = spark.createDataFrame([], "doc_id long, text string")
    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string"
    )
    assert tx.gazetteer_tag(docs, {"acme corp": "ORG"}).count() == 0
    assert event_paths(ev).count() == 0
