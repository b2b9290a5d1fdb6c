"""Plan-shape assertions: the 100 TB properties the engine promises must be
visible in the physical plan, not just hoped for. These tests pin them so a
regression (a lost broadcast, a filter that stops reaching the scan, a
shuffle that reappears) fails CI immediately."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_kafka_table_api_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_reaches_parquet_scan(spark):
    df = QUERIES["approved_transactions"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "o_orderstatus" in plan.split("PushedFilters")[1][:200]


def test_projection_prunes_scan_columns(spark):
    df = QUERIES["filter_project"](spark, SF)
    read_schema = _plan(df).split("ReadSchema:")[1]
    assert "l_comment" not in read_schema
    assert "l_tax" not in read_schema  # dropped by the projection


def test_star_join_broadcasts_dims(spark):
    plan = _plan(QUERIES["star_join"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # nation, region pinned
    assert "SortMergeJoin" not in plan


def test_sort_limit_is_take_ordered(spark):
    plan = _plan(QUERIES["sort_limit"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan  # no shuffle for global top-k


def test_ann_query_broadcasts_query_vector(spark):
    plan = _plan(QUERIES["ann_bruteforce"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_reference_pipeline_has_no_shuffle(spark):
    plan = _plan(QUERIES["approved_transactions"](spark, SF))
    assert "Exchange" not in plan  # narrow-only: scan->filter->project


def test_partitioned_write_prunes(spark, tmp_path):
    """Partition-by on write -> partition pruning on read: the filter must
    become a PartitionFilter (directory pruning), not a data filter."""
    from flink_kafka_table_api_spark.sources.files import write_parquet

    out = str(tmp_path / "orders_by_status")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    write_parquet(orders, out, partition_by=("o_orderstatus",))
    filtered = spark.read.parquet(out).filter(F.col("o_orderstatus") == "O")
    plan = _plan(filtered)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:")[1][:200]
    assert "o_orderstatus" in seg


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing both sides of a recurring join key removes the per-query
    shuffle entirely — the canonical co-located join at 100 TB."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode(
        "overwrite"
    ).saveAsTable("orders_b")
    cust.write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode(
        "overwrite"
    ).saveAsTable("customer_b")
    with_aqe_off = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("orders_b").join(
            spark.table("customer_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing replaced both shuffles
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_aqe_off)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_tpch_q3_broadcasts_customer_filter(spark):
    """The selective dim side must broadcast; the only SMJ-scale shuffle
    allowed is the orders<->lineitem key."""
    plan = _plan(QUERIES["tpch_q3_shipping"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-10 without a global sort


def test_decontaminate_is_broadcast_anti_join(spark):
    """The benchmark n-gram set is tiny by construction — the keep path
    must be a broadcast LEFT ANTI join (no shuffle of the train corpus)."""
    plan = _plan(QUERIES["decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_stratified_sample_is_narrow(spark):
    """Hash-mod sampling is one narrow pass: no exchange anywhere."""
    plan = _plan(QUERIES["stratified_sample"](spark, SF))
    assert "Exchange" not in plan


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC sink + source parity: values survive and filters still reach
    the scan (PushedFilters), same as parquet."""
    from flink_kafka_table_api_spark.sources.files import read_orc, write_orc

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    out = str(tmp_path / "orders_orc")
    write_orc(orders, out)
    back = read_orc(spark, out)
    assert back.count() == orders.count()
    filtered = back.filter(F.col("o_orderstatus") == "O").select("o_orderkey")
    plan = _plan(filtered)
    assert "PushedFilters" in plan and "o_orderstatus" in plan
    assert (
        filtered.count()
        == orders.filter(F.col("o_orderstatus") == "O").count()
    )


def test_compact_restores_file_count(spark, tmp_path):
    """Streaming sinks leave many tiny files; compact() must rewrite them
    into the target count without losing rows."""
    import glob

    from flink_kafka_table_api_spark.sources.files import compact

    out = str(tmp_path / "fragmented")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    orders.repartition(40).write.parquet(out)  # simulate 40 tiny files
    assert len(glob.glob(f"{out}/*.parquet")) == 40
    n_before = orders.count()
    n_files = compact(spark, out, target_file_bytes=256 * 1024 * 1024)
    files = glob.glob(f"{out}/*.parquet")
    assert len(files) == n_files <= 2
    assert spark.read.parquet(out).count() == n_before


def test_join_strategy_hints_are_honored(spark):
    """The engine exposes Spark's join-strategy hints: broadcast forces BHJ
    even for a 'large' side; merge forces SMJ even for a tiny one."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    bhj = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert "BroadcastHashJoin" in _plan(bhj)
    smj = orders.join(cust.hint("merge"), orders.o_custkey == cust.c_custkey)
    assert "SortMergeJoin" in _plan(smj)


def test_json_corrupt_record_handling(spark, tmp_path):
    """Declared-schema JSON ingestion must quarantine, not crash on, bad
    rows: PERMISSIVE mode routes them to _corrupt_record for audit."""
    from flink_kafka_table_api_spark.sources.files import read_json

    p = tmp_path / "events.jsonl"
    p.write_text(
        '{"event_id": 1, "value": 2.5}\n'
        "this is not json\n"
        '{"event_id": 3, "value": 7.0}\n'
    )
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("_corrupt_record", StringType()),
    ])
    df = read_json(spark, str(p), schema).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2 and bad.count() == 1
    assert bad.first()._corrupt_record.startswith("this is not")
    df.unpersist()


def test_global_sort_uses_range_partitioning(spark):
    """A global orderBy must compile to RangePartitioning (sampled range
    exchange + local sorts) — the only sort shape that scales; and a
    repartitionByRange+sortWithinPartitions write produces the same
    exchange without a final merge."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    plan = _plan(orders.orderBy("o_totalprice"))
    assert "rangepartitioning" in plan.lower()
    clustered = orders.repartitionByRange(8, "o_totalprice").sortWithinPartitions(
        "o_totalprice"
    )
    p2 = _plan(clustered)
    assert "rangepartitioning" in p2.lower() and "Sort" in p2


def test_dynamic_partition_pruning(spark, tmp_path):
    """DPP: a selective dim-side filter must prune the fact table's
    partitions at runtime (the 100 TB star-join enabler: only partitions
    matching the dim filter are scanned)."""
    from flink_kafka_table_api_spark.sources.files import write_parquet

    fact = str(tmp_path / "orders_by_priority")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    write_parquet(orders, fact, partition_by=("o_orderpriority",))
    dim = spark.createDataFrame(
        [("1-URGENT", "keep"), ("2-HIGH", "drop")], "prio string, tag string"
    ).filter(F.col("tag") == "keep")  # selective dim filter -> DPP eligible
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false"
        )
        j = spark.read.parquet(fact).join(
            F.broadcast(dim), F.col("o_orderpriority") == F.col("prio")
        )
        plan = _plan(j)
        assert "dynamicpruning" in plan.lower()
        assert j.count() == orders.filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_streaming_observe_metrics(spark, tmp_path):
    """df.observe(): per-micro-batch data-quality counters surfaced through
    StreamingQueryProgress — pipeline observability without a second scan."""
    from pyspark.sql import Observation  # noqa: F401  (batch twin exists)

    src = str(tmp_path / "obs_src")
    spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, 2.0)], "id long, value double"
    ).write.parquet(src)
    stream = (
        spark.readStream.schema("id long, value double").parquet(src)
        .observe(
            "quality",
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("negatives"),
        )
    )
    q = (
        stream.writeStream.format("memory").queryName("obs_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    observed = None
    for p in q.recentProgress:
        if p["observedMetrics"].get("quality"):
            observed = p["observedMetrics"]["quality"]
    assert observed is not None
    assert observed["rows"] == 3 and observed["negatives"] == 1


def test_ann_ivf_scan_is_partition_pruned(spark):
    """The registered IVF query must read ONLY the routed cluster's
    partition of the materialized index — a PartitionFilters entry on the
    index scan, never a full-corpus assignment pass (the round-1 shape)."""
    from flink_kafka_table_api_spark.queries import q_ann_ivf

    df = q_ann_ivf(spark, SF)
    plan = _plan(df)
    assert ".cache/ivf/" in plan  # scans the materialized index...
    part = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "cluster" in part  # ...pruned on the cluster key


def test_stream_windows_run_in_append_mode(spark):
    """Append-mode contract: the streamed tumbling result only contains
    watermark-finalized windows (max window_end <= max ts - delay), i.e.
    state for the open tail window was held back and will be evicted, not
    emitted — the bounded-state production shape."""
    import datetime

    from flink_kafka_table_api_spark.catalog import read_table

    out = QUERIES["stream_tumbling"](spark, SF)
    max_end = out.agg(F.max("window_end")).first()[0]
    max_ts = read_table(spark, SF, "events").agg(F.max("ts")).first()[0]
    assert max_end <= max_ts - datetime.timedelta(seconds=5)


def test_tpch_q10_is_take_ordered_with_pushed_filters(spark):
    """Q10's top-20 must compile to TakeOrderedAndProject (no global sort
    materialization) and both selective filters must reach their scans."""
    plan = _plan(QUERIES["tpch_q10_returns"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "(l_returnflag" in plan  # pushed into the lineitem scan
    assert "(o_orderdate" in plan  # quarter bound pushed into orders


def test_tpch_q19_disjunct_implicants_reach_scans(spark):
    """The OR-of-bands predicate cannot move below the join whole, but
    Catalyst must factor per-table implicants out of the disjunction and
    push them: quantity bounds to lineitem, brand/size bounds to part.
    Loses either one -> the join reads the full fact table at 100 TB."""
    plan = _plan(QUERIES["tpch_q19_disjunctive"](spark, SF))
    li_scan = [s for s in plan.split("FileScan parquet ")
               if s.startswith("[l_partkey")][0].split("ReadSchema")[0]
    part_scan = [s for s in plan.split("FileScan parquet ")
                 if s.startswith("[p_partkey")][0].split("ReadSchema")[0]
    # Spark truncates long filter renderings with '...', so pin the shape:
    # each scan's PushedFilters must contain an Or(...) over its own columns.
    li_pushed = li_scan.split("PushedFilters: ")[1]
    part_pushed = part_scan.split("PushedFilters: ")[1]
    assert "Or(" in li_pushed and "l_quantity" in li_pushed
    assert "Or(" in part_pushed and "p_brand" in part_pushed
    assert "p_size" in part_pushed


def test_stream_left_join_withholds_open_tail(spark):
    """Left-outer stream-stream join: null-match rows may only exist for
    errors whose join window the final watermark passed; open-tail errors
    must be withheld (their match could still arrive)."""
    import datetime

    from flink_kafka_table_api_spark.catalog import read_table

    from flink_kafka_table_api_spark.queries import _stream_stream_join_run

    out = _stream_stream_join_run(spark, SF, "left_outer").collect()
    ev = read_table(spark, SF, "events")
    mx = (
        ev.filter(F.col("event_type").isin("error", "click"))
        .groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    )
    wm = min(r.m for r in mx) - datetime.timedelta(seconds=5)
    errors = {
        r.event_id: r.ts
        for r in ev.filter(F.col("event_type") == "error")
        .select("event_id", "ts").collect()
    }
    bound = wm - datetime.timedelta(minutes=10)
    for r in out:
        if r.click_id is None:
            assert errors[r.error_id] < bound  # strictly closed window only


def test_embedding_quantize_is_single_narrow_scan(spark):
    """Quantization audit: one parquet scan, one aggregate exchange (the
    tiny per-label rollup), no joins, no Python."""
    plan = _plan(QUERIES["embedding_quantize"](spark, SF))
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_stream_full_join_withholds_both_open_tails(spark):
    """Full-outer stream-stream join: unmatched errors obey the window
    bound (e_ts + 10min < wm), unmatched clicks only the watermark itself
    (c_ts < wm) — the asymmetric state-eviction contract."""
    import datetime

    from flink_kafka_table_api_spark.catalog import read_table

    from flink_kafka_table_api_spark.queries import _stream_stream_join_run

    out = _stream_stream_join_run(spark, SF, "full_outer").collect()
    ev = read_table(spark, SF, "events")
    mx = (
        ev.filter(F.col("event_type").isin("error", "click"))
        .groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    )
    wm = min(r.m for r in mx) - datetime.timedelta(seconds=5)
    ts_of = {
        r.event_id: r.ts
        for r in ev.filter(F.col("event_type").isin("error", "click"))
        .select("event_id", "ts").collect()
    }
    saw_null_click = saw_null_error = False
    for r in out:
        if r.click_id is None:
            saw_null_click = True
            assert ts_of[r.error_id] < wm - datetime.timedelta(minutes=10)
        elif r.error_id is None:
            saw_null_error = True
            assert ts_of[r.click_id] < wm
    assert saw_null_click and saw_null_error  # both outer sides exercised


def test_ann_ivf_quantized_scan_reads_int8_not_floats(spark):
    """The quantized IVF query must scan ONLY the routed cluster partition
    of the index AND read only (vec_id, qe) — the float embedding column
    must not appear in the index scan's ReadSchema (that's the 4x I/O
    saving being real, not aspirational)."""
    from flink_kafka_table_api_spark.queries import q_ann_ivf_quantized

    df = q_ann_ivf_quantized(spark, SF)
    plan = _plan(df)
    assert ".cache/ivf/" in plan
    part = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "cluster" in part
    idx_scan = [s for s in plan.split("FileScan parquet ")
                if ".cache/ivf/" in s][0]
    read_schema = idx_scan.split("ReadSchema:")[1].split("\n")[0]
    assert "qe" in read_schema
    assert "embedding" not in read_schema


def test_tpch_q6_is_pure_scan(spark):
    """Q6 must stay scan-bound: no joins, every predicate in PushedFilters,
    one scalar-aggregate exchange at most."""
    plan = _plan(QUERIES["tpch_q6_forecast"](spark, SF))
    assert "Join" not in plan
    pushed = plan.split("PushedFilters: ")[1]
    assert "l_discount" in pushed and "l_quantity" in pushed


def test_tpch_q2_correlated_min_is_one_window_pass(spark):
    """Q2's correlated min-cost subquery must compile to a single Window
    over the partkey partition (one shuffle), not an aggregate + self-join
    (two); dims ride broadcasts and the top-100 must be
    TakeOrderedAndProject, not a global sort."""
    plan = _plan(QUERIES["tpch_q2_min_cost_supplier"](spark, SF))
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_tpch_q9_part_slice_pushed_and_nation_broadcast(spark):
    """Q9: the selective part-name prefix must reach the part scan
    (StringStartsWith pushdown) and nation must broadcast — at 100 TB the
    6-way join is only viable because the name slice prunes lineitem before
    the orders shuffle."""
    plan = _plan(QUERIES["tpch_q9_product_profit"](spark, SF))
    part_scan = [s for s in plan.split("FileScan parquet ")
                 if s.startswith("[p_partkey")][0]
    assert "StringStartsWith(p_name,red" in part_scan
    assert "BroadcastHashJoin" in plan


def test_tpch_q11_persists_shared_aggregate(spark):
    """Q11 references the per-part aggregate twice (total + filter); Spark
    does not dedup shared subplans, so the plan must read the SECOND
    reference from the tracked persist (InMemoryTableScan) and apply the
    scalar threshold as a 1-row broadcast — not recompute the join tree."""
    plan = _plan(QUERIES["tpch_q11_important_stock"](spark, SF))
    # BOTH references (threshold build side + filtered output side) must
    # read the cache; the cached child plan's own FileScan prints under
    # each InMemoryRelation, so count cache reads, not scans
    assert plan.count("InMemoryTableScan") >= 2
    assert "BroadcastNestedLoopJoin" in plan


def test_tpch_q20_nested_ins_are_semi_joins(spark):
    """Q20's two IN-subqueries must both compile to left-semi joins (no
    dedup-then-inner-join), and the part-name prefix must be pushed into
    the part scan."""
    plan = _plan(QUERIES["tpch_q20_promotion_stock"](spark, SF))
    assert plan.count("LeftSemi") >= 2
    assert "StringStartsWith(p_name,red" in plan


def test_pii_redact_and_doc_chunks_are_narrow(spark):
    """Both compliance-pass shapes must run at scan speed: zero exchanges,
    zero Python — pure codegen'd regexp/array expressions."""
    for name in ("pii_redact", "doc_chunks"):
        plan = _plan(QUERIES[name](spark, SF))
        assert "Exchange" not in plan, name
        assert "Python" not in plan and "ArrowEval" not in plan, name
        assert plan.count("FileScan parquet") == 1, name


def test_importance_weights_broadcasts_ratio_table(spark):
    """The fitted n_buckets-row ratio table must broadcast to the scoring
    join — the corpus side stays narrow until its per-doc aggregate."""
    plan = _plan(QUERIES["importance_weights"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_aqe_runtime_replan_broadcast_and_coalesce(spark):
    """AQE must re-plan at runtime: with static broadcast disabled (the
    planner commits to SMJ) but the adaptive threshold set, the executed
    plan converts to BroadcastHashJoin once the built side's true size is
    known; and a 32-partition shuffle over tiny data must coalesce
    (AQEShuffleRead) instead of scheduling empty reducers."""
    static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    adaptive = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", "10m")
    try:
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        cust = spark.read.parquet(f"{SF}/customer.parquet")
        j = orders.join(cust, orders.o_custkey == cust.c_custkey)
        assert "SortMergeJoin" in _plan(j)  # the static plan commits to SMJ
        j.collect()
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "BroadcastHashJoin" in final  # runtime conversion happened
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", static)
        if adaptive is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", adaptive)
    g = spark.read.parquet(f"{SF}/orders.parquet") \
        .groupBy("o_orderstatus").count()
    g.collect()
    gplan = g._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in gplan and "coalesced" in gplan


def test_ts_pattern_topk_is_one_keyed_sort_plus_take_ordered(spark):
    """The pattern search must be window algebra: exactly one exchange
    (the series key), folds in codegen (no Python), and the global top-k
    as TakeOrderedAndProject — never a full sort or a self-join."""
    plan = _plan(QUERIES["ts_pattern_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_sentiment_lexicon_is_narrow_fold(spark):
    """Lexicon scoring is a codegen'd fold: no explode, no join, no
    Python, no exchange."""
    plan = _plan(QUERIES["sentiment_lexicon"](spark, SF))
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode
    assert "Python" not in plan and "ArrowEval" not in plan


def test_lsh_bucket_cap_adds_no_exchange(spark):
    """The LSH bucket cap must stay on the cheap plan: the bands are never
    re-shuffled for it. The cap is a count window over the bucket key, and
    the bucket aggregate reuses the window's partitioning, so the capped
    plan has no more exchanges than the uncapped one and no join."""
    import flink_kafka_table_api_spark.operators.dedup as dd

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = dd.minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    bands = dd.lsh_bands(sigs, "doc_id", bands=4, rows_per_band=2)
    capped = _plan(dd.lsh_candidate_pairs(bands, "doc_id"))
    uncapped = _plan(
        dd.lsh_candidate_pairs(bands, "doc_id", max_bucket_size=None)
    )
    assert "Window" in capped, "cap missing from the plan"
    assert "Join" not in capped
    assert capped.count("Exchange") <= uncapped.count("Exchange")


def test_aqe_splits_skewed_join_partitions(spark):
    """The session claims AQE skew-join handling; prove it: a 95%-one-key
    join under forced SMJ must show skew-split partitions (skew=true) in
    the final adaptive plan once thresholds are scaled to test data."""
    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "256k")
    spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        # pad length varies with id so constant-folding cannot strip it
        # from the shuffle (a constant pad re-materializes post-join and
        # the skewed partition falls under the detection threshold)
        left = spark.range(200_000).selectExpr(
            "CASE WHEN id % 20 < 19 THEN 0 ELSE id % 50 END AS k",
            "repeat('x', CAST(32 + id % 32 AS INT)) AS pad",
        )
        right = spark.range(50).selectExpr("id AS k", "id * 2 AS v")
        j = left.join(right, "k")
        # collect() (not count()) so THIS plan executes and finalizes —
        # count() runs a different (aggregated) query execution
        assert len(j.collect()) == 200_000
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "SortMergeJoin(skew=true)" in final
        assert "AQEShuffleRead skewed" in final
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_table_profile_is_single_scan_expand(spark):
    """Profiling N columns must stay ONE scan: the multi-distinct
    aggregate compiles to an Expand two-phase plan, not per-column
    scans."""
    plan = _plan(QUERIES["table_profile"](spark, SF))
    assert plan.count("FileScan parquet") == 1
    assert "Expand" in plan


def test_bloom_decontaminate_broadcasts_bitmap_not_grams(spark):
    """The Bloom path's point: the only broadcast is the fixed-size bitmap
    (word -> bits) join; the exact verify join on gram strings must NOT be
    a broadcast of the full benchmark gram set."""
    plan = _plan(QUERIES["bloom_decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan  # bitmap probe join
    # the membership groupBy (doc, gram, hits==k) survives as an aggregate
    assert "bit_or" in plan or "bitor" in plan.lower()


def test_hard_negatives_broadcasts_anchors(spark):
    plan = _plan(QUERIES["hard_negatives"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan  # anchors broadcast, corpus streams
    assert "SortMergeJoin" not in plan


def test_length_band_filter_broadcasts_bounds(spark):
    plan = _plan(QUERIES["length_band_filter"](spark, SF))
    assert "BroadcastHashJoin" in plan  # per-source bounds table
    assert "SortMergeJoin" not in plan


def test_dedup_keep_best_windows_label_tables_only(spark):
    """The quality argmax must window over the (id, cluster, score) label
    table — document text must never reach the window sort."""
    df = QUERIES["dedup_keep_best"](spark, SF)
    plan = _plan(df)
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert "text" not in _optimized(df).split("Window")[0]


def test_top_ngram_fraction_is_partial_aggregated(spark):
    """The argmax is min(struct(...)) — a hash aggregate with map-side
    partials — not a row_number window over an exploded corpus."""
    plan = _plan(QUERIES["top_ngram_fraction"](spark, SF))
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_substring_dup_stats_is_broadcast_semi_joined(spark):
    """ExactSubstr stats: the duplicated-hash set joins back as a
    BROADCAST (it is sparse by construction), the per-doc stats join is
    broadcast too, and the scan reads only (doc_id, text)."""
    plan = _plan(QUERIES["substring_dup_stats"](spark, SF))
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    read_schema = plan.split("ReadSchema:")[1]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "source" not in read_schema  # untouched columns pruned


def test_strip_dup_substrings_no_cartesian(spark):
    """ExactSubstr removal: survivor semi-join + anti-join shapes, no
    cartesian products anywhere in the rebuild pipeline."""
    plan = _plan(QUERIES["strip_dup_substrings"](spark, SF))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_window_topk_is_aggregate_not_sort_window(spark):
    """top_k_per_group_agg: the plan must be the hash-aggregate shape —
    map-side partial collect_list (combiner), ONE keyed exchange, and no
    Window/partition-wide Sort operator at all."""
    plan = _plan(QUERIES["window_topk"](spark, SF))
    assert "partial_collect_list" in plan  # map-side combine present
    assert "Window" not in plan
    assert plan.count("Exchange") == 1


def test_bpe_merge_table_is_driver_literal(spark):
    """bpe_train (driver path for small vocabularies): the returned
    merge table is literal data — consuming it must not re-run the
    corpus scan (no FileScan in its plan)."""
    plan = _plan(QUERIES["bpe_train_merges"](spark, SF))
    assert "FileScan" not in plan


def test_bm25_stats_join_is_broadcast_single_row(spark):
    """BM25's corpus statistics (N, avgdl, dfs) aggregate to one row that
    must reach the per-doc scorer by BROADCAST — the scoring pass itself
    stays a narrow map over the corpus scan."""
    from flink_kafka_table_api_spark.operators.retrieval import bm25_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(bm25_scores(docs, ["spark", "vector"]))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_hybrid_search_candidate_lists_are_take_ordered(spark):
    """RRF candidate generation must compile to TakeOrderedAndProject
    (distributed per-partition top-depth + driver merge), never a global
    sort Exchange over the corpus."""
    plan = _plan(QUERIES["hybrid_search"](spark, SF))
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "rangepartitioning" not in plan.lower()


def test_cms_sketch_shuffle_carries_cells_not_rows(spark):
    """The Count-Min grid must partially aggregate map-side: the only
    wide exchange below the sketch aggregate hashes on the (seed, bucket)
    cell key, and a partial_count precedes it."""
    from flink_kafka_table_api_spark.operators.sketches import cms_sketch

    ev = spark.read.parquet(f"{SF}/events.parquet").select("user_id")
    plan = _plan(cms_sketch(ev, "user_id", depth=4, width=64))
    assert "partial_count" in plan
    # the wide exchange hashes on the (seed, bucket) grouping key (rendered
    # as _groupingexpression) and sits ABOVE the partial aggregate
    assert "Exchange hashpartitioning(_groupingexpression" in plan
    assert plan.index("partial_count") > plan.index("Exchange hashpartitioning")


def test_hierarchy_rollup_rounds_are_logarithmic(spark):
    """Pointer jumping must converge in O(log depth) joins: the sf0.001
    customer forest has max depth 11, so the loop needs <= 5 jump rounds
    (2^4 = 16 > 11); a per-edge walk would need 11+. Convergence rounds
    are observable as the localCheckpoint count."""
    import flink_kafka_table_api_spark.operators.relational as rel

    calls = {"n": 0}
    orig = rel.DataFrame.localCheckpoint

    def counting(self, *a, **k):
        calls["n"] += 1
        return orig(self, *a, **k)

    rel.DataFrame.localCheckpoint = counting
    try:
        QUERIES["hierarchy_rollup"](spark, SF).count()
    finally:
        rel.DataFrame.localCheckpoint = orig
    # 1 seed checkpoint + one per round; depth 11 -> exactly 5 rounds
    # (spans 2,4,8,16 then the all-roots confirmation round)
    assert calls["n"] <= 7, calls


def test_char_entropy_is_single_narrow_pass(spark):
    """Entropy is a per-row fold: one scan, no joins, no Python, and the
    only Exchange is the parallelism repartition of the single-file
    testdata input (a many-file production scan wouldn't need it)."""
    plan = _plan(QUERIES["char_entropy"](spark, SF))
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_pmi_unigram_table_is_computed_once(spark):
    """The unigram table feeds both join sides and the corpus-N row; it
    must come from ONE persisted aggregate (3 InMemoryTableScans), not
    three re-tokenizations of the corpus. No Python anywhere."""
    plan = _plan(QUERIES["pmi_collocations"](spark, SF))
    assert plan.count("InMemoryTableScan") == 3
    assert "Python" not in plan and "ArrowEval" not in plan


def test_triangle_count_has_no_nlj_and_single_tri_pass(spark):
    """Triangle counting must stay equi-join-only (degree orientation
    kills the celebrity-vertex wedge blowup; no cartesian fallback),
    and per-node membership must come from ONE explode over the
    triangle list, not a 3-way union that would re-run the closure
    join per branch (pinned: exactly 3 reads of the persisted oriented
    edge set — wedge left + wedge right + closure)."""
    plan = _plan(QUERIES["triangle_count"](spark, SF))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Generate explode" in plan or "explode" in plan
    assert plan.count("InMemoryTableScan") == 12  # 3 oriented + nested e


def test_rfm_segments_single_fact_aggregate(spark):
    """The orders fact feeds exactly ONE customer-keyed hash aggregate;
    everything downstream is 1-row broadcasts + a codegen'd tile fold —
    no window, no sort, no second fact shuffle."""
    plan = _plan(QUERIES["rfm_segments"](spark, SF))
    assert "Window" not in plan and "Sort" not in plan
    # the two 1-row frames (corpus max date, cut arrays) broadcast
    assert plan.count("BroadcastExchange") >= 2


def test_assoc_rules_topk_is_take_ordered_with_broadcast_df(spark):
    plan = _plan(QUERIES["assoc_rules"](spark, SF))
    assert "TakeOrderedAndProject" in plan  # never a global sort
    # the vocabulary-sized df table broadcasts per rule side + N row
    assert plan.count("BroadcastHashJoin") >= 2


def test_mann_whitney_window_runs_on_value_grid_only(spark):
    """The single-partition window (midrank cumulative) must sit ABOVE
    the value-grid aggregate, never over corpus rows: in the plan the
    Window's child chain contains the grouped cache, and per-group sums
    arrive via hash aggregate."""
    plan = _plan(QUERIES["mann_whitney"](spark, SF))
    assert plan.count("Window") == 1
    assert "InMemoryTableScan" in plan  # the persisted (grp, v) cells


def test_grid_density_labels_via_broadcast(spark):
    """The dense-cell label table broadcasts back onto the point frame
    (the only second corpus-sized stage is broadcast-side)."""
    plan = _plan(QUERIES["grid_density"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_match_recognize_is_one_arrow_scan_plus_keyed_join(spark):
    """The CEP plan (operators/cep.py): the regex scan is ONE
    Arrow-batched eval over per-key strings (never row-at-a-time
    Python), the span join back is a keyed equi-join on the partition
    key (never a cartesian/NLJ over rows), and there is no driver-side
    collect in the plan at all."""
    plan = _plan(QUERIES["match_recognize"](spark, SF))
    assert plan.count("ArrowEvalPython") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the join back is keyed: user_id appears in the join condition of
    # a hash or sort-merge join
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) \
        or ("ShuffledHashJoin" in plan)


def test_event_temporal_join_emission_scan_is_bucket_pruned(spark, tmp_path):
    """The event-time temporal join's enrichment must read the history
    with the __kb partition filter in place: run the fixture, then
    re-derive the emission join for the final flush and check its scan
    is over batch-scoped files with partition values (the pruned read
    path), and the lookup join is a keyed join with a range residual —
    never a nested loop."""
    from tests.test_event_temporal_join import OPS, PROBES, _ops, _probes
    from flink_kafka_table_api_spark.streaming.event_temporal_join import (
        stream_event_temporal_join,
    )

    out = stream_event_temporal_join(
        spark, _ops(spark, OPS), _probes(spark, PROBES),
        str(tmp_path / "p1"), n_chunks=3,
        dim_delay="1 hour", probe_delay="1 hour",
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    # the per-batch emission path ran: out partitions exist per batch
    import os

    parts = sorted(os.listdir(str(tmp_path / "p1" / "out")))
    assert parts == [
        "batch_id=0", "batch_id=1", "batch_id=2", "batch_id=3",
    ]
    # and the history store is bucket-partitioned so the emission scan
    # CAN prune: every delta dir is laid out by __kb
    hist = str(tmp_path / "p1" / "hist")
    for b in os.listdir(hist):
        subdirs = [d for d in os.listdir(os.path.join(hist, b))
                   if d.startswith("__kb=")]
        assert subdirs, f"{b} is not __kb-partitioned"


def test_topn_retract_rank_is_take_ordered(spark, tmp_path):
    """The Top-N over the state must be TakeOrderedAndProject (per-
    partition heaps), never a global Sort: pin the plan of the _topn
    stage over a state-shaped frame."""
    from flink_kafka_table_api_spark.streaming.retract import _topn

    state = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "key long, total double",
    ).select("key", F.col("total").cast("decimal(25,6)").alias("total"))
    plan = _plan(_topn(state, 10))
    assert "TakeOrderedAndProject" in plan


def test_binned_scd2_lookup_joins_on_key_and_bin(spark):
    """The bin-based range join must put (key, bin) in the EQUI join
    keys — if the bin degraded to a post-join residual, the hot-key
    candidate explosion it exists to prevent would be back."""
    from flink_kafka_table_api_spark.streaming.scd2_stream import (
        scd2_lookup,
    )

    hist = spark.createDataFrame(
        [(1, 10.0, 100, "2024-01-01 00:00:00", "2024-01-02 00:00:00")],
        "key long, value double, op_id long, f string, t string",
    ).select(
        "key", "value", "op_id",
        F.to_timestamp("f").alias("effective_from"),
        F.to_timestamp("t").alias("effective_to"),
    )
    probes = spark.createDataFrame(
        [(1, 1, "2024-01-01 12:00:00")],
        "probe_id long, key long, p string",
    ).select(
        "probe_id", "key", F.to_timestamp("p").alias("probe_ts"),
    )
    out = scd2_lookup(hist, probes, bin_seconds=86400)
    out.collect()
    plan = _plan(out)
    join_lines = [ln for ln in plan.splitlines()
                  if "Join" in ln and "Cartesian" not in ln]
    assert join_lines, plan
    assert any("__pbin" in ln and "__bin" in ln for ln in join_lines), \
        join_lines


def test_cumulate_is_partials_plus_spine_never_exploded_input(spark):
    """CUMULATE's 100 TB property: stage 1 is ONE map-side-partial
    aggregate of the input (never the size/step-x row explosion of the
    naive port), the only Generate is the output-sized spine, the merge
    is union+fold (no join), and the partials compute ONCE (both union
    branches read the persisted partials, not a second input scan)."""
    plan = _plan(QUERIES["cumulate_windows"](spark, SF))
    assert "partial_count(1)" in plan          # map-side combine, stage 1
    assert plan.count("Generate") == 1          # spine only
    assert "Join" not in plan                   # merge is union + fold
    assert plan.count("InMemoryTableScan") == 2  # partials cached, 1 scan


def test_pii_scrub_is_single_narrow_pass(spark):
    """PII scrub: one codegen'd projection over the scan — no shuffle,
    no join, and only (doc_id, text) read."""
    plan = _plan(QUERIES["pii_scrub"](spark, SF))
    assert "Exchange" not in plan
    assert "Join" not in plan
    read_schema = plan.split("ReadSchema:")[1]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "source" not in read_schema


def test_over_range_agg_is_banded_not_per_key(spark):
    """The OVER-aggregate shape both the batch helper and every
    stream_over_agg micro-batch run: the window exchange partitions by
    (key, time-bin) — NOT by bare key, which puts a zipf-hot key's whole
    history into one task's sort (measured 4.5x under the 8x zipf
    redraw) — plus the uniform row_id recombine; no join anywhere."""
    from flink_kafka_table_api_spark.streaming.over_agg import (
        over_range_agg,
    )

    rows = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1, 1.0)],
        "row_id long, ts string, key long, value double",
    ).select("row_id", F.to_timestamp("ts").alias("ts"), "key", "value")
    plan = _plan(over_range_agg(rows, 3600))
    assert "Join" not in plan
    window_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "key" in ln
    ]
    assert any("__bin" in ln for ln in window_exchanges), window_exchanges
    assert "specifiedwindowframe(RangeFrame" in plan


def test_idle_watermark_merge_is_union_fold_no_join(spark):
    """stream_idle_watermark's per-batch state fold (the 100 TB
    property): batch partials are ONE map-side-partial keyed aggregate,
    and the pending-store merge is union + re-aggregate — no join node,
    so state stays |windows in flight| rows and the shuffle carries
    aggregates, never data rows."""
    from flink_kafka_table_api_spark.streaming.idle_watermark import (
        _PENDING_SCHEMA,
        merge_pending,
        window_partials,
    )

    rows = spark.createDataFrame(
        [("A", "2024-01-01 00:00:00", 1.0)],
        "source string, ts string, value double",
    ).select("source", F.to_timestamp("ts").alias("ts"), "value")
    partial = window_partials(rows, "1 day")
    p_plan = _plan(partial)
    assert "partial_count(1)" in p_plan        # map-side combine
    merged = merge_pending(
        spark.createDataFrame([], _PENDING_SCHEMA), partial
    )
    m_plan = _plan(merged)
    assert "Join" not in m_plan                 # union + fold only
    assert "Union" in m_plan
