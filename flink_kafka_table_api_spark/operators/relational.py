"""Relational operator combinators (EXT scope — SURVEY.md §2.2).

The reference exercises only filter/project/scalar-expr (it is a single-table
pipe); joins, aggregations, windows, sorts and set ops are the in-scope
extensions. Everything here stays declarative so Catalyst picks the physical
strategy; the helpers encode the *scale* decisions (broadcast hints,
deterministic top-k, partial-agg-friendly shapes) rather than re-implementing
operators Spark already has.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Dimension tables small enough to broadcast at ANY scale factor: TPC-H
# region/nation are constant-size; supplier/part/customer grow with SF and
# must NOT be unconditionally broadcast at 100 TB — those go through AQE's
# size-based decision instead.
ALWAYS_BROADCAST_DIMS = frozenset({"region", "nation"})


def join_dim(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str] | Column,
    how: str = "inner",
    *,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Fact-to-dimension join. ``broadcast_dim=True`` pins a broadcast-hash
    join (no shuffle of the fact side — the 100 TB-critical property);
    leave False for dims that scale with the fact table and let AQE decide."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(d, on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS — returns left rows with a match, never duplicates them."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """NOT EXISTS."""
    return left.join(right, on=on, how="left_anti")


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_alias: str = "rn",
) -> DataFrame:
    """Deterministic per-group top-k via row_number.

    Callers MUST make ``order_by`` a total order (append a unique key as the
    last sort column) or results are nondeterministic under parallelism.
    Scale note: row_number needs a single sort per partition key — skewed
    groups are handled by AQE; for extreme skew pre-aggregate or use a
    groupBy(max_by) shape instead.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_alias, F.row_number().over(w))
        .filter(F.col(rank_alias) <= k)
    )


def top_k_per_group_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    value_col: str,
    tie_col: str,
    k: int,
    *,
    descending: bool = True,
    rank_alias: str = "rn",
) -> DataFrame:
    """Per-group top-k for the common "top k by one metric, unique-id
    tie-break" shape, as a hash AGGREGATE instead of a sort window:
    collect_list(struct(value, -tie)) -> sort_array -> slice(k) ->
    posexplode. Produces bit-identical rows and ranks to
    :func:`top_k_per_group` with order (value DESC, tie ASC) — the
    negated tie key makes one struct sort direction encode both (integer
    negation is exact; doubles compare identically either way).

    Why it is faster: a row_number window sort-merges EVERY row of a
    partition by (group, value, tie) before ranking; this shape
    hash-aggregates per group and only sorts each group's own list
    (O(n log g) for group size g, no partition-wide sort). Measured 2.2x
    over the window at sf0.1 (0.58 s vs 1.25 s, warm input).

    Scale contract: shuffle bytes are the same as the window's (partial
    collect_list ships full per-group lists — built-in aggregates have no
    bounded-heap buffer), so the requirement is that a single GROUP's
    rows fit in executor memory — true for per-customer/per-key top-k
    shapes. For unbounded groups use :func:`top_k_per_group`, whose
    sort spills gracefully.
    """
    # tie is always ranked ASC; a descending value sort therefore stores
    # the NEGATED tie (desc over -tie = tie asc), an ascending one stores
    # it as-is. Integer negation is exact, so the undo cast is lossless.
    tie_expr = (-F.col(tie_col)) if descending else F.col(tie_col)
    pair = F.struct(F.col(value_col), tie_expr.alias("__nt"))
    ordered = F.sort_array(F.collect_list(pair), asc=not descending)
    tie_type = dict(df.dtypes)[tie_col]
    others = [c for c in df.columns if c not in (*partition_by, value_col, tie_col)]
    if others:
        raise ValueError(
            "top_k_per_group_agg carries only (group, value, tie) columns; "
            f"project first (extra: {others})"
        )
    return (
        df.groupBy(*partition_by)
        .agg(F.slice(ordered, 1, k).alias("__t"))
        .select(*partition_by, F.posexplode("__t").alias("__p", "__s"))
        .select(
            *partition_by,
            F.col(f"__s.{value_col}").alias(value_col),
            ((-F.col("__s.__nt")) if descending else F.col("__s.__nt"))
            .cast(tie_type).alias(tie_col),
            (F.col("__p") + 1).alias(rank_alias),
        )
    )


def sessionize(
    df: DataFrame,
    *,
    partition_by: str,
    ts_col: str,
    gap_seconds: int,
    tie_breaker: str,
    session_col: str = "session_id",
) -> DataFrame:
    """Batch gap-based sessionization: a new session starts when the gap to
    the previous event exceeds ``gap_seconds``.

    This is the batch analog of streaming session windows
    (F.session_window — streaming/windows.py); expressed with lag + a running
    sum so it is pure window algebra (two passes over one sort — no UDF, no
    state store). The same algorithm at 100 TB: one shuffle on the partition
    key, sorts within partitions, AQE handles skewed users.
    """
    order = [F.col(ts_col), F.col(tie_breaker)]
    w = Window.partitionBy(partition_by).orderBy(*order)
    run = (
        Window.partitionBy(partition_by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # NTZ timestamps: route through TimestampType (session tz is pinned UTC
    # by session.py) so the epoch-seconds arithmetic matches DuckDB epoch().
    ts_secs = F.col(ts_col).cast("timestamp").cast("double")
    gap = ts_secs - F.lag(ts_secs).over(w)
    new_session = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn(session_col, F.sum(new_session).over(run))


def asof_join_last(
    df: DataFrame,
    *,
    partition_by: str,
    ts_col: str,
    tie_breaker: str,
    value_when: Column,
    out_col: str,
) -> DataFrame:
    """AS-OF join expressed as window algebra (no join at all): for each row,
    the most recent preceding value where ``value_when`` is non-null.

    The classic stream pattern 'latest purchase before this event' becomes
    last(ignorenulls) over an ordered per-key frame — one shuffle on the
    partition key, linear scan within partitions. At 100 TB this beats an
    actual as-of join implementation because there is no build side at all.
    """
    w = (
        Window.partitionBy(partition_by)
        .orderBy(F.col(ts_col), F.col(tie_breaker))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.last(value_when, ignorenulls=True).over(w))


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    *,
    left_epoch: str,
    right_epoch: str,
    lower_s: float,
    upper_s: float,
    bin_s: int,
) -> DataFrame:
    """Time-range join WITHOUT an equi key, made scalable by binning.

    Naively `l.ts BETWEEN r.ts+lo AND r.ts+hi` is a cartesian product on
    Spark (no range-join optimizer in OSS). Binning turns it into an equi
    join: each left row explodes to the bins its window covers, each right
    row maps to its own bin, join on bin, then apply the exact range filter.
    Cost is O(rows * windows_per_bin) instead of O(n^2); choose
    ``bin_s`` close to the window width so each left row covers <=2-3 bins.

    Inputs must carry epoch-seconds double columns (caller casts) and
    disjoint column names.
    """
    lo_bin = F.floor((F.col(left_epoch) + lower_s) / bin_s).cast("long")
    hi_bin = F.floor((F.col(left_epoch) + upper_s) / bin_s).cast("long")
    left2 = left.withColumn("__bin", F.explode(F.sequence(lo_bin, hi_bin)))
    right2 = right.withColumn(
        "__bin", F.floor(F.col(right_epoch) / bin_s).cast("long")
    )
    return (
        left2.join(right2, on="__bin")
        .filter(
            (F.col(right_epoch) >= F.col(left_epoch) + lower_s)
            & (F.col(right_epoch) <= F.col(left_epoch) + upper_s)
        )
        .drop("__bin")
    )


def grouping_sets(
    spark_df: DataFrame,
    view_name: str,
    sets_sql: str,
    select_sql: str,
) -> DataFrame:
    """GROUPING SETS entry point — Spark exposes it via SQL only."""
    spark_df.createOrReplaceTempView(view_name)
    return spark_df.sparkSession.sql(
        f"SELECT {select_sql} FROM {view_name} GROUP BY GROUPING SETS {sets_sql}"
    )


def scd2_versions(
    changes: DataFrame,
    *,
    key_cols: Sequence[str],
    ts_col: str,
    tie_cols: Sequence[str] = (),
    open_end: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2: turn a change log (one row per
    key per change, stamped ``ts_col``) into versioned dimension rows with
    ``valid_from`` / ``valid_to`` / ``is_current`` — each version closes at
    the NEXT change's timestamp (lead over the per-key order), the latest
    stays open: ``valid_to`` is NULL (the default, pairs with the
    ``is_current`` flag and survives ns-resolution consumers) or the
    explicit ``open_end`` sentinel timestamp when a warehouse convention
    requires one (e.g. ``"9999-12-31 00:00:00"`` — note such far-future
    sentinels overflow pandas/Arrow nanosecond timestamps downstream).

    The dimension-maintenance shape every warehouse ingest runs: one
    shuffle on the key, a linear lead() within each key partition, no
    join, no driver state. At 100 TB the change log partitions by key the
    same way, and late-arriving changes are handled by re-running the
    window over the affected keys only (the computation is per-key local).
    Duplicate timestamps for one key make version order ambiguous —
    pass ``tie_cols`` (e.g. the change id) to make it total, same
    contract as streaming/upsert.py."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col), *[F.col(c) for c in tie_cols]
    )
    nxt = F.lead(ts_col).over(w)
    if open_end is None:
        valid_to = nxt
        is_current = F.col("valid_to").isNull()
    else:
        valid_to = F.coalesce(nxt, F.lit(open_end).cast("timestamp"))
        is_current = (
            F.col("valid_to") == F.lit(open_end).cast("timestamp")
        )
    return (
        changes.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", valid_to)
        .withColumn("is_current", is_current)
    )


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    *,
    key_cols: Sequence[str],
) -> DataFrame:
    """Batch MERGE/upsert (SCD type 1): apply an updates table onto a base
    table by key — matched keys take the update's NON-NULL column values
    (partial updates: a NULL in the updates row keeps the base value),
    unmatched update keys become inserts, untouched base rows pass
    through. The
    batch twin of streaming/upsert.py's foreachBatch keyed upsert, and the
    operation `MERGE INTO` performs in table formats; expressed engine-
    level as one full-outer join + per-column coalesce(update, base).

    Scale shape: a single key-partitioned shuffle join (or a broadcast
    join when the updates batch is small — the usual case, left to AQE /
    the optimizer's threshold). Columns present only in base pass through;
    updates must share the base schema (enforced by-name).
    """
    missing = [c for c in updates.columns if c not in base.columns]
    if missing:
        raise ValueError(f"update columns not in base schema: {missing}")
    # SQL MERGE raises when several source rows match one target key;
    # silently joining would multiply base rows. Enforce the same rule
    # lazily (codegen raise_error at execution — no extra action): every
    # update row must be its key's only row.
    dup_w = Window.partitionBy(*key_cols)
    first_key = key_cols[0]
    updates = updates.withColumn(
        first_key,
        F.when(
            F.count("*").over(dup_w) == 1, F.col(first_key)
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "merge_upsert: multiple update rows for key ("
                    ),
                    F.concat_ws(
                        ", ", *[F.col(k).cast("string") for k in key_cols]
                    ),
                    F.lit(")"),
                )
            ).cast(dict(updates.dtypes)[first_key])
        ),
    )
    u = updates.select(
        *[F.col(c).alias(f"__u_{c}") for c in updates.columns]
    )
    cond = None
    for k in key_cols:
        c = base[k].eqNullSafe(u[f"__u_{k}"])
        cond = c if cond is None else cond & c
    joined = base.join(u, cond, "full_outer")
    out_cols = []
    for c in base.columns:
        if f"__u_{c}" in u.columns:
            out_cols.append(F.coalesce(u[f"__u_{c}"], base[c]).alias(c))
        else:
            out_cols.append(base[c].alias(c))
    return joined.select(*out_cols)


def skyline_2d(
    df: DataFrame,
    *,
    x_col: str,
    y_col: str,
    num_buckets: int = 32,
) -> DataFrame:
    """2-D skyline (Pareto frontier, both dimensions minimized): the rows
    no other row dominates — preference queries a la "Integration of
    Skyline Queries into Spark SQL" (EDBT 2023, in the retrieved corpus),
    re-expressed as pure DataFrame algebra instead of a planner extension:

    1. per-x minimum of y (one keyed shuffle; dominated-within-x gone);
    2. strict-prefix min of that over x ascending — a distributed prefix
       min (value-range buckets, per-bucket local window, a broadcast
       ``num_buckets``-row offset table: the pack_sequences pattern), so
       NO global single-partition window appears at scale. A candidate
       survives iff its y is STRICTLY below every smaller-x minimum
       (equality loses: the equal-y point at smaller x dominates);
    3. semi-join the original rows on the surviving (x, min-y) pairs —
       exact duplicates of a frontier point are mutually non-dominating
       and all kept.

    Bucketing uses floor((x - lo)/span) on the value range: only
    monotonicity in x matters for prefix correctness, so double rounding
    fuzz at bucket edges is harmless."""
    per_x = df.groupBy(F.col(x_col).alias("__x")).agg(
        F.min(y_col).alias("__ymin")
    )
    lo, hi = per_x.agg(F.min("__x"), F.max("__x")).first()
    if lo is None:  # empty input -> empty skyline
        return df.limit(0)
    span = (float(hi) - float(lo)) / num_buckets or 1.0
    bucketed = per_x.withColumn(
        "__bucket",
        F.least(
            F.floor((F.col("__x") - F.lit(float(lo))) / F.lit(span)),
            F.lit(num_buckets - 1),
        ).cast("long"),
    )
    local_w = (
        Window.partitionBy("__bucket")
        .orderBy("__x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = bucketed.withColumn("__local_min", F.min("__ymin").over(local_w))
    offsets_w = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        bucketed.groupBy("__bucket")
        .agg(F.min("__ymin").alias("__bmin"))
        .withColumn("__offset", F.min("__bmin").over(offsets_w))
        .select("__bucket", "__offset")
    )
    survivors = (
        local.join(F.broadcast(offsets), "__bucket")
        .withColumn(
            "__prefix_min", F.least(
                F.col("__local_min"), F.col("__offset")
            )
        )
        .filter(
            F.col("__prefix_min").isNull()
            | (F.col("__ymin") < F.col("__prefix_min"))
        )
        .select("__x", "__ymin")
    )
    return df.join(
        F.broadcast(survivors),
        (F.col(x_col) == F.col("__x")) & (F.col(y_col) == F.col("__ymin")),
        "left_semi",
    )


def hierarchy_levels(
    nodes: DataFrame,
    id_col: str,
    parent: Column,
    *,
    is_root: Column | None = None,
    max_iterations: int = 64,
) -> DataFrame:
    """Root and depth for every node of a forest given a parent pointer —
    the recursive-CTE capability (DuckDB/Trino `WITH RECURSIVE`, org
    charts / BOM explosion / thread nesting) that Spark SQL lacks,
    realized with POINTER JUMPING (Wyllie 1979): each round replaces every
    node's ancestor pointer with its ancestor's ancestor while summing the
    hop distances, so after r rounds each pointer spans up to 2^r original
    edges and the loop converges in O(log(max depth)) rounds, not
    O(max depth) like a per-edge recursive walk. At 100 TB this is the
    difference between ~40 shuffle joins and millions of sequential steps
    for deep hierarchies.

    ``parent`` is an expression over the node id; a node whose parent
    equals itself (or matching ``is_root``) is a root. Per round: one
    self-equi-join on the ancestor key (key-partitioned shuffle), one
    small count action for the convergence test (a driver decision over
    an aggregate — same contract as k-means/connected components).
    localCheckpoint (eager), NOT persist, between rounds: a self-join
    doubles the logical plan per iteration, so without lineage truncation
    the plan grows 2^rounds and the driver OOMs stringifying it long
    before any data is large (the connected_components lesson,
    operators/dedup.py:495). Returns ``id_col``, ``root``, ``depth``.
    """
    root_now = parent == F.col(id_col) if is_root is None else is_root
    ptr = nodes.select(
        F.col(id_col).alias("__node"),
        parent.alias("__anc"),
        F.when(root_now, F.lit(0)).otherwise(F.lit(1)).alias("__d"),
    ).localCheckpoint()
    for _ in range(max_iterations):
        hop = ptr.select(
            F.col("__node").alias("__anc"),
            F.col("__anc").alias("__anc2"),
            F.col("__d").alias("__d2"),
        )
        nxt = (
            ptr.join(hop, "__anc")
            .select(
                "__node",
                F.col("__anc2").alias("__anc"),
                (F.col("__d") + F.col("__d2")).alias("__d"),
                (F.col("__d2") > 0).alias("__moved"),
            )
            .localCheckpoint()
        )
        moving = nxt.filter("__moved").count()
        ptr = nxt.select("__node", "__anc", "__d")
        # localCheckpoint blocks are freed on JVM GC of the RDD (py4j
        # finalizer), not by DataFrame.unpersist (no cacheManager entry);
        # rebinding drops the Python reference, and peak retained state
        # is bounded by O(rounds * nodes) — see pagerank for the same note
        if moving == 0:
            break
    else:
        raise RuntimeError(
            f"hierarchy_levels: not converged after {max_iterations} "
            "pointer-jumping rounds (cycle in parent pointers?)"
        )
    return ptr.select(
        F.col("__node").alias(id_col),
        F.col("__anc").alias("root"),
        F.col("__d").alias("depth"),
    )


def equi_depth_bins(
    df: DataFrame,
    value_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Equi-DEPTH (quantile) binning with per-bin statistics — the
    feature-engineering/histogram primitive `value_histogram`'s
    equi-WIDTH bins can't provide on skewed distributions (where one
    wide bin swallows most rows and the rest sit empty): cut points are
    the exact interpolated (i/n)-quantiles, so every bin holds ~1/n of
    the rows by construction.

    Returns (bin_id, lo_cut, hi_cut, n_rows, bin_min, bin_max) with
    bin_id 1..n_bins; lo/hi cuts rounded to 6 decimals (NULL at the
    open ends), assignment by ``value > cut`` on the ROUNDED cuts so
    both engines place boundary values identically (the
    seasonal_anomaly recipe).

    Scale shape: ONE percentile aggregate producing n_bins-1 scalars
    (never a global sort — the ntile() formulation would shuffle every
    row to sort within one giant frame), the cut array applied as a
    codegen'd fold per row, and one tiny keyed aggregate. At extreme
    scale swap the exact percentile for percentile_approx (t-digest,
    mergeable) in the same plan; the cut COUNT stays n_bins-1 either
    way, so the downstream shape is scale-invariant.

    The quantiles are ONE array-argument percentile call, not n_bins-1
    scalar calls: each scalar Percentile is its own aggregate buffer
    holding (and sorting) every value, so the per-call form pays the
    buffer+sort n_bins-1 times — measured 4.0 s vs 0.7 s at sf0.1 for
    the identical result."""
    qs = [i / n_bins for i in range(1, n_bins)]
    cuts_row = df.agg(
        F.transform(
            F.percentile(
                value_col, F.array(*[F.lit(q) for q in qs])
            ),
            lambda c: F.round(c, 6),
        ).alias("__cuts")
    )
    with_cuts = df.crossJoin(F.broadcast(cuts_row))  # 1-row build side
    bin_id = F.aggregate(
        F.col("__cuts"),
        F.lit(1),
        lambda acc, c: acc
        + F.when(F.col(value_col) > c, F.lit(1)).otherwise(F.lit(0)),
    )
    binned = with_cuts.select(
        F.col(value_col).alias("__v"),
        "__cuts",
        bin_id.cast("long").alias("bin_id"),
    )
    return (
        binned.groupBy("bin_id")
        .agg(
            F.first(
                F.when(
                    F.col("bin_id") > 1,
                    F.element_at(
                        F.col("__cuts"), F.col("bin_id").cast("int") - 1
                    ),
                )
            ).alias("lo_cut"),
            F.first(
                F.when(
                    F.col("bin_id") < n_bins,
                    F.element_at(
                        F.col("__cuts"), F.col("bin_id").cast("int")
                    ),
                )
            ).alias("hi_cut"),
            F.count("*").cast("long").alias("n_rows"),
            F.min("__v").alias("bin_min"),
            F.max("__v").alias("bin_max"),
        )
    )


def equi_depth_bins_sql(
    table: str, value_col: str, *, n_bins: int = 10
) -> str:
    """DuckDB oracle for :func:`equi_depth_bins`: quantile_cont is the
    exact interpolated percentile (the `percentiles` portable pair);
    same rounded cuts, same strict-> assignment."""
    qs = [i / n_bins for i in range(1, n_bins)]
    cut_list = ", ".join(
        f"round(quantile_cont({value_col}, {q}), 6)" for q in qs
    )
    return f"""
    WITH cuts AS (SELECT [{cut_list}] AS c FROM {table}),
    b AS (
      SELECT t.{value_col} AS v,
             1 + len(list_filter(cuts.c, x -> t.{value_col} > x))
               AS bin_id,
             cuts.c AS c
      FROM {table} t, cuts
    )
    SELECT CAST(bin_id AS BIGINT) AS bin_id,
           CASE WHEN bin_id > 1 THEN c[CAST(bin_id AS INT) - 1] END
             AS lo_cut,
           CASE WHEN bin_id < {n_bins} THEN c[CAST(bin_id AS INT)] END
             AS hi_cut,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(v) AS bin_min,
           MAX(v) AS bin_max
    FROM b
    GROUP BY bin_id, c
    """


def rfm_segments(
    orders: DataFrame,
    *,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_tiles: int = 5,
) -> DataFrame:
    """RFM customer segmentation (Hughes, "Strategic Database
    Marketing", 1994): score every customer 1..``n_tiles`` on Recency
    (days since their last order, relative to the corpus's newest
    order), Frequency (order count) and Monetary (lifetime spend), then
    map the (R, F, M) cell to a named behavioral segment — the
    marketing/retention primitive that turns a raw orders fact table
    into an actionable customer table.

    Determinism contract: monetary is quantized to integer CENTS before
    summing (the benford_audit recipe — a float SUM's partition order
    would otherwise leak into the cents), recency/frequency are already
    integers, and the tile cut points are exact interpolated quantiles
    rounded to 6 decimals with strict ``value > cut`` assignment (the
    equi_depth_bins recipe), so both engines place boundary customers
    identically. R is REVERSED (low recency-days = recent = high
    score), F and M ascend.

    Returns (customer, recency_days, frequency, monetary_cents,
    r_score, f_score, m_score, rfm_cell, segment): rfm_cell =
    100*r + 10*f + m; segment by the standard threshold grid
    (champion / loyal / big_spender / at_risk / hibernating / regular
    — first match wins, the CASE order is part of the contract).

    Scale shape: ONE customer-keyed aggregate over the orders fact
    (map-side partial; the corpus max date derives from ITS per-
    customer maxima, never a second fact scan), persisted so the cut
    computation and the scoring pass share it; one 1-row broadcast
    carrying all three cut arrays from a single percentile aggregate
    (never an ntile global sort — the equi_depth_bins lesson); a
    codegen'd per-row fold for the assignments. The orders fact is
    scanned exactly once."""
    from flink_kafka_table_api_spark.caching import tracked_persist

    qs = [i / n_tiles for i in range(1, n_tiles)]
    per_cust = tracked_persist(
        orders.groupBy(F.col(cust_col).alias("customer")).agg(
            F.max(F.to_date(F.col(date_col))).alias("__last"),
            F.count("*").cast("long").alias("frequency"),
            F.sum(
                F.round(F.col(amount_col) * 100).cast("long")
            ).alias("monetary_cents"),
        )
    )
    corpus_max = per_cust.agg(F.max("__last").alias("__dmax"))
    rfm = tracked_persist(
        per_cust.crossJoin(F.broadcast(corpus_max))
        .select(
            "customer",
            F.datediff("__dmax", "__last").cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    cuts = rfm.agg(
        *[
            F.transform(
                F.percentile(
                    F.col(c).cast("double"),
                    F.array(*[F.lit(q) for q in qs]),
                ),
                lambda x: F.round(x, 6),
            ).alias(f"__cuts_{c}")
            for c in ("recency_days", "frequency", "monetary_cents")
        ]
    )

    def tile(c: str) -> Column:
        return F.aggregate(
            F.col(f"__cuts_{c}"),
            F.lit(1),
            lambda acc, cut: acc
            + F.when(
                F.col(c).cast("double") > cut, F.lit(1)
            ).otherwise(F.lit(0)),
        ).cast("long")

    scored = rfm.crossJoin(F.broadcast(cuts)).select(
        "customer", "recency_days", "frequency", "monetary_cents",
        (F.lit(n_tiles + 1) - tile("recency_days")).alias("r_score"),
        tile("frequency").alias("f_score"),
        tile("monetary_cents").alias("m_score"),
    )
    hi = (n_tiles + 1) * 4 // 5  # >=4 at n_tiles=5
    lo = max(1, n_tiles * 2 // 5)  # <=2 at n_tiles=5
    seg = (
        F.when(
            (F.col("r_score") >= hi)
            & (F.col("f_score") >= hi)
            & (F.col("m_score") >= hi),
            F.lit("champion"),
        )
        .when(F.col("f_score") >= hi, F.lit("loyal"))
        .when(F.col("m_score") >= hi, F.lit("big_spender"))
        .when(
            (F.col("r_score") <= lo) & (F.col("f_score") > lo),
            F.lit("at_risk"),
        )
        .when(F.col("r_score") <= lo, F.lit("hibernating"))
        .otherwise(F.lit("regular"))
    )
    return scored.select(
        "*",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10
            + F.col("m_score")
        ).alias("rfm_cell"),
        seg.alias("segment"),
    )


def rfm_segments_sql(
    table: str = "orders",
    *,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_tiles: int = 5,
) -> str:
    """DuckDB oracle for :func:`rfm_segments`: same integer-cent
    quantization, same rounded quantile_cont cuts, same strict->
    assignment and CASE ladder."""
    qs = [i / n_tiles for i in range(1, n_tiles)]
    hi = (n_tiles + 1) * 4 // 5
    lo = max(1, n_tiles * 2 // 5)

    def cut_list(col: str) -> str:
        return "[" + ", ".join(
            f"round(quantile_cont(CAST({col} AS DOUBLE), {q}), 6)"
            for q in qs
        ) + "]"

    return f"""
    WITH per_cust AS (
      SELECT {cust_col} AS customer,
             MAX(CAST({date_col} AS DATE)) AS last_d,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(round({amount_col} * 100) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM {table} GROUP BY 1
    ),
    dmax AS (SELECT MAX(CAST({date_col} AS DATE)) AS d FROM {table}),
    rfm AS (
      SELECT customer,
             CAST(datediff('day', last_d, dmax.d) AS BIGINT)
               AS recency_days,
             frequency, monetary_cents
      FROM per_cust, dmax
    ),
    cuts AS (
      SELECT {cut_list("recency_days")} AS cr,
             {cut_list("frequency")} AS cf,
             {cut_list("monetary_cents")} AS cm
      FROM rfm
    ),
    scored AS (
      SELECT customer, recency_days, frequency, monetary_cents,
             CAST({n_tiles} + 1 - (1 + len(list_filter(cuts.cr,
               x -> CAST(recency_days AS DOUBLE) > x))) AS BIGINT)
               AS r_score,
             CAST(1 + len(list_filter(cuts.cf,
               x -> CAST(frequency AS DOUBLE) > x)) AS BIGINT)
               AS f_score,
             CAST(1 + len(list_filter(cuts.cm,
               x -> CAST(monetary_cents AS DOUBLE) > x)) AS BIGINT)
               AS m_score
      FROM rfm, cuts
    )
    SELECT customer, recency_days, frequency, monetary_cents,
           r_score, f_score, m_score,
           CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)
             AS rfm_cell,
           CASE
             WHEN r_score >= {hi} AND f_score >= {hi} AND m_score >= {hi}
               THEN 'champion'
             WHEN f_score >= {hi} THEN 'loyal'
             WHEN m_score >= {hi} THEN 'big_spender'
             WHEN r_score <= {lo} AND f_score > {lo} THEN 'at_risk'
             WHEN r_score <= {lo} THEN 'hibernating'
             ELSE 'regular'
           END AS segment
    FROM scored
    """
