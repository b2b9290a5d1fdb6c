"""Two-SF oracle parity for the registered queries: each (query, oracle)
pair runs at sf0.001 AND sf0.01 through the SAME registry surface the
driver reads, compared with the driver harness's normalizations
(columns sorted by name, rows sorted, floats %.6g, timestamps to
milliseconds), and must return rows. tests/test_oracle_parity.py pins
the sf0.001 rows exactly; this file adds the sf0.01 scale.
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb
import pytest

from flink_kafka_table_api_spark.queries import ORACLES, QUERIES

NAMES = [
    # streaming
    "stream_scd2", "stream_cdc_apply", "stream_temporal_join",
    "stream_event_temporal_join", "stream_topn_retract",
    "stream_match_recognize", "stream_ann_ingest", "stream_profile",
    "stream_cumulate", "stream_over_agg", "stream_over_rows",
    "stream_window_dedup", "stream_session_dynamic", "stream_window_join",
    "stream_source_quota", "stream_idle_watermark",
    "stream_watermark_alignment", "stream_agg_retract",
    "stream_quantile_monitor", "stream_allowed_lateness",
    # batch
    "match_recognize", "data_expectations", "cumulate_windows",
    "pii_scrub", "burst_detection",
    # graph
    "pagerank", "triangle_count", "label_propagation", "kcore",
    "link_prediction", "adamic_adar",
    # per-document text stats
    "lang_id", "text_quality", "char_entropy", "token_count",
    "dup_ngram_coverage", "readability", "gazetteer_tag",
]

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm_cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return f"{v:.6g}"
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.") + f"{v.microsecond // 1000:03d}"
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    try:
        from decimal import Decimal

        if isinstance(v, Decimal):
            return f"{float(v):.6g}"
    except Exception:
        pass
    return str(v)


def _normalized(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001",
                                "/root/testdata/sf0.01"])
@pytest.mark.parametrize("name", NAMES)
def test_registration_matches_oracle(spark, name, sf):
    assert name in QUERIES and name in ORACLES, (
        f"{name} lost its registration"
    )
    sdf = QUERIES[name](spark, sf)
    scols = sdf.columns
    srows = sdf.collect()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    res = con.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), (
        f"{name}@{sf}: columns {sorted(scols)} != {sorted(dcols)}"
    )
    assert len(srows) == len(drows) > 0, (
        f"{name}@{sf}: {len(srows)} spark rows vs {len(drows)} oracle rows"
    )
    assert _normalized(srows, scols) == _normalized(drows, dcols), (
        f"{name}@{sf}: value mismatch"
    )
