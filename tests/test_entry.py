"""Smoke tests of the driver contract surface (__spark_entry__.py)."""

from __future__ import annotations

import __spark_entry__ as e


def test_entry_returns_rows(spark):
    df = e.entry(spark)
    assert df.count() > 0
    assert "converted_price" in df.columns
    assert "processingTimestamp" in df.columns


def test_registry_shape(spark):
    qs = e.queries()
    os_ = e.oracle_sql()
    assert len(qs) >= 30
    # every oracle key has a query
    assert set(os_) <= set(qs)
    # the vast majority of queries are oracle-checked
    assert len(os_) >= 0.85 * len(qs)


def test_query_boundary_releases_tracked_caches(spark):
    """Registered callables free the PREVIOUS query's tracked persists on
    entry, so any harness (driver loop, bench, notebook) accumulates at
    most one query's caches — and a cache-free query drains them to zero."""
    from flink_kafka_table_api_spark import caching

    sf = "/root/testdata/sf0.001"
    qs = e.queries()
    caching.release_cached()
    qs["neardup_verified"](spark, sf).count()
    n_after_lsh = len(caching._TRACKED)
    assert n_after_lsh > 0  # the LSH pipeline persists intermediates
    qs["lsh_candidate_pairs"](spark, sf).count()
    # boundary released the first query's caches before tracking its own
    assert len(caching._TRACKED) <= n_after_lsh
    qs["filter_project"](spark, sf).count()
    assert len(caching._TRACKED) == 0  # zero after back-to-back queries
