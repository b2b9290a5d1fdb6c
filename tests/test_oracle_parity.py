"""Local replica of the driver's correctness gate: run every registered
query on sf0.001 via Spark AND its oracle SQL via DuckDB, compare row
count, column names, and (order-insensitively) values. Catching a mismatch
here is 100x cheaper than in the driver's sf0.01 run.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from flink_kafka_table_api_spark.catalog import TABLES
from flink_kafka_table_api_spark.queries import ORACLES, QUERIES

SF = "/root/testdata/sf0.001"

# Queries whose parity check must not pass vacuously: each returns rows
# at sf0.001, so a shared fixture helper that emptied a query's input
# could not pass parity.
# join_anti is not here: every customer has orders at every shipped sf,
# so it returns 0 rows; join_anti_urgent is its non-empty sibling.
NONEMPTY = frozenset("""
    adamic_adar agg_minmax_by agg_rollup_cube ann_bruteforce ann_lsh
    approx_distinct approx_percentiles bpe_encode_counts
    bpe_train_merges burst_detection char_entropy chunk_dedup
    cohort_retention cold_customers corpus_shuffle corr_avg_subquery
    cumulate_windows data_expectations datetime_funcs dedup_exact
    dedup_keep_best dedup_minhash dedup_simhash doc_chunks
    dup_ngram_coverage embedding_neardup equi_depth_bins exists_orders
    fingerprint funnel_conversion gazetteer_tag grouping_sets
    hard_negatives hybrid_search join_anti_urgent join_full_outer
    join_left join_semi json_funcs kcore label_propagation lang_id
    length_band_filter link_prediction llm_curation llm_curation_packed
    lsh_candidate_pairs match_recognize multi_distinct neardup_verified
    pagerank percentiles pii_scrub readability scalar_funcs
    scalar_subquery semantic_dedup set_ops_all set_ops_distinct
    simhash_pairs stratified_sample stream_agg_retract
    stream_allowed_lateness stream_ann_ingest stream_cdc_apply
    stream_cumulate stream_curation stream_curation_ooo
    stream_event_temporal_join stream_idle_watermark stream_late_events
    stream_match_recognize stream_over_agg stream_over_rows
    stream_profile stream_quantile_monitor stream_scd2 stream_session
    stream_session_dynamic stream_sliding stream_source_quota
    stream_state_ttl stream_static_join stream_temporal_join
    stream_topn_retract stream_tumbling stream_watermark_alignment
    stream_window_dedup stream_window_join stream_window_topk
    strip_dup_substrings substring_dup_stats table_profile text_quality
    token_count tpch_q14_promo tpch_q19_disjunctive tpch_q6_forecast
    triangle_count value_histogram window_analytic window_frames
    window_running window_topk winnowing
""".split())


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    yield con
    con.close()


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style value canonicalization: exact doubles expected, but
        # repr differences (e.g. -0.0) are normalized
        if v == 0:
            return 0.0
        return v
    if isinstance(v, bytes):
        return v.hex()
    return v


def _rows_to_multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(str(_canon(r[i])) for i in idx) for r in rows
    )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF)
    spark_rows = sdf.collect()
    spark_cols = sdf.columns

    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count differs: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    if name in NONEMPTY:
        assert spark_rows, f"{name}: returned no rows"
    s = _rows_to_multiset(spark_cols, [tuple(r) for r in spark_rows])
    d = _rows_to_multiset(duck_cols, duck_rows)
    mism = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mism, f"{name}: {len(mism)} mismatched rows; first: {mism[:3]}"


def test_all_queries_have_callables():
    assert QUERIES, "query registry is empty"
    for name in ORACLES:
        assert name in QUERIES


def test_nonempty_names_are_registered():
    assert NONEMPTY <= ORACLES.keys()
