"""Time-series pattern search over keyed event streams (EXT scope).

The shape of "Time Series Similarity Search for Streaming Data in
Distributed Systems" (EDBT 2019, retrieved corpus): find the sliding
windows of a keyed value series most similar to a query pattern under
z-normalized Euclidean distance — batched here as pure window algebra.

Scale shape: ONE shuffle on the series key, a linear ordered scan per key
building length-L windows (collect_list over a bounded following frame —
state is L values per row, not the series), z-normalization and distance
as codegen'd higher-order folds against the broadcast (literal) pattern,
and a global top-k that compiles to TakeOrderedAndProject. No Python, no
self-join, no all-pairs anything; at 100 TB the cost is the keyed sort
plus O(L) arithmetic per row.

Portability: the pattern is z-normalized once driver-side and embedded as
full-precision literals in BOTH engines; every fold runs left-to-right
over the same L values with a zero seed (0.0 + x == x exactly), so the
doubles agree bit-for-bit and the rounded distance hash-matches the
oracle. The reference (/root/reference) has no time-series surface; this
extends the engine for the analytics scope.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.functions.portable import (
    spark_round6_sql,
)


def znorm_pattern(pattern: list[float]) -> list[float]:
    """Driver-side z-normalization of the query pattern (exact floats,
    reused verbatim by the oracle SQL so both engines see identical
    literals)."""
    n = len(pattern)
    mean = sum(pattern) / n
    var = sum((x - mean) ** 2 for x in pattern) / n
    std = var ** 0.5
    if std == 0:
        raise ValueError("flat pattern has no z-normalized form")
    return [(x - mean) / std for x in pattern]


def sliding_pattern_topk(
    df: DataFrame,
    pattern: list[float],
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tie_col: str = "event_id",
    value_col: str = "value",
    k: int = 10,
) -> DataFrame:
    """Top-k length-``len(pattern)`` windows (per key, ordered by
    ``ts_col``) closest to the z-normalized pattern in z-normalized
    Euclidean distance. Flat windows (zero variance) have no z-form and
    are excluded. Returns (key, window-start tie id, window-start ts,
    dist) with dist rounded to 6 decimals; ties broken by the id so the
    top-k cut is total."""
    zp = znorm_pattern(pattern)
    length = len(zp)
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col), F.col(tie_col))
        .rowsBetween(Window.currentRow, length - 1)
    )
    win = (
        df.select(key_col, ts_col, tie_col, value_col)
        .withColumn("__w", F.collect_list(value_col).over(w))
        .filter(F.size("__w") == length)
    )

    def fold_sum(arr):
        return F.aggregate(
            arr, F.lit(0.0), lambda a, x: a + x
        )

    mean = fold_sum(F.col("__w")) / length
    win = win.withColumn("__mean", mean)
    sq = F.transform(
        F.col("__w"),
        lambda x: (x - F.col("__mean")) * (x - F.col("__mean")),
    )
    win = win.withColumn("__std", F.sqrt(fold_sum(sq) / length))
    win = win.filter(F.col("__std") > 0)
    # z-normalize the window and fold the squared diff against the
    # pattern literal in one pass (zip by index). Squares are explicit
    # products, not pow() — libm pow rounding is not engine-portable.
    zp_arr = F.array(*[F.lit(v) for v in zp])

    def zdiff(i):
        return (
            (F.element_at(F.col("__w"), i) - F.col("__mean"))
            / F.col("__std")
            - F.element_at(zp_arr, i)
        )

    diff_sq = F.transform(
        F.sequence(F.lit(1), F.lit(length)),
        lambda i: zdiff(i) * zdiff(i),
    )
    out = win.withColumn(
        "dist", F.round(F.sqrt(fold_sum(diff_sq)), 6)
    )
    return (
        out.select(key_col, tie_col, ts_col, "dist")
        .orderBy("dist", tie_col)
        .limit(k)
    )


def event_paths(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    type_col: str = "event_type",
    length: int = 3,
    k: int = 20,
) -> DataFrame:
    """Top-k frequent event PATHS: the most common length-``length``
    adjacent subsequences of each key's time-ordered event-type stream
    (the funnel-discovery / clickstream-mining primitive — funnels test
    a KNOWN sequence, this surfaces the dominant sequences). Returns
    (path, n_occurrences) with path rendered "a>b>c", top-k by
    (count DESC, path ASC) — a total order, so the cutoff is
    deterministic and integer-exact in both engines.

    Scale shape: ONE keyed shuffle building each key's ordered type
    array (collect_list of (ts, tiebreak, type) structs, array_sort —
    the time_decay_score recipe; state is per-key events, the
    celebrity-user caveat and its windowed-dedup escape hatch apply),
    then a narrow zip_with path construction, one explode into
    (path, 1) rows that partial-aggregate map-side, and a TakeOrdered
    top-k — the shuffle carries path counts, never event rows."""
    seqs = (
        events.groupBy(F.col(key_col).alias("__k"))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("t"),
                        F.col(order_tiebreak).alias("i"),
                        F.col(type_col).alias("e"),
                    )
                )
            ).alias("__seq")
        )
        .select(
            F.transform(F.col("__seq"), lambda s: s["e"]).alias("__types")
        )
    )
    n = F.size(F.col("__types"))
    acc = F.slice(F.col("__types"), 1, n - length + 1)
    for j in range(1, length):
        acc = F.zip_with(
            acc,
            F.slice(F.col("__types"), 1 + j, n - length + 1),
            lambda a, b: F.concat(a, F.lit(">"), b),
        )
    paths = seqs.select(
        F.explode(
            F.when(n >= length, acc).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
        .limit(k)
    )


def event_paths_sql(*, length: int = 3, k: int = 20) -> str:
    """DuckDB oracle for :func:`event_paths` over `events`: per-user
    ordered type list via list(... ORDER BY ts, event_id), the same
    adjacent-window path construction, integer counts, identical
    (count DESC, path ASC) top-k cutoff."""
    return f"""
    WITH seqs AS (
      SELECT user_id,
             list(event_type ORDER BY ts, event_id) AS types
      FROM events GROUP BY user_id
    ),
    paths AS (
      SELECT array_to_string(s.types[u.i:u.i + {length} - 1], '>') AS path
      FROM seqs s,
           unnest(generate_series(1, len(s.types) - {length} + 1)) AS u(i)
      WHERE len(s.types) >= {length}
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM paths GROUP BY path
    ORDER BY n_occurrences DESC, path ASC
    LIMIT {k}
    """


def seasonal_anomaly(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    k: float = 3.0,
) -> DataFrame:
    """Seasonal-baseline anomaly audit: flag events whose value deviates
    from the MEDIAN of their (group, hour-of-day) seasonal cell by more
    than ``k`` times that cell's MAD (median absolute deviation) — the
    classic robust outlier rule (Hampel filter / Leys et al. 2013:
    median/MAD survive the very outliers mean/stddev would absorb).
    Hour-of-day is the seasonality unit: a value normal at peak hours
    can be anomalous at 4am, which a global percentile cut cannot see.

    Returns the flagged events only:
    (event_id, group, hr, value, med, mad, absdev), deterministically
    identified by id. med/mad/absdev are rounded to 6 decimals BEFORE
    every downstream use — the comparison ``absdev > k * mad`` then runs
    on identical operands in both engines (residual risk: an unrounded
    median sitting within one ulp of a 6th-decimal boundary could round
    differently across engines — the temperature_mix-documented class,
    accepted; no such value exists in the testdata).

    Scale shape: two keyed aggregates over a TINY key space
    (groups x 24 cells) with map-side partial percentile state, each
    joined back via BROADCAST (the stats table is KBs at any corpus
    size), and a codegen'd filter. The event stream is never shuffled —
    at 100 TB this is two scans + two broadcast joins, the cheapest
    possible shape for a per-cell-statistic audit. Exact interpolated
    percentile == DuckDB quantile_cont (the `percentiles` recipe); at
    extreme group cardinality swap in percentile_approx (t-digest,
    mergeable) in the same plan.
    """
    e = events.select(
        F.col(id_col).alias("event_id"),
        F.col(group_col).alias("grp"),
        F.hour(F.col(ts_col)).alias("hr"),
        F.col(value_col).cast("double").alias("value"),
    )
    med = e.groupBy("grp", "hr").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    d = e.join(F.broadcast(med), ["grp", "hr"]).withColumn(
        "absdev", F.round(F.abs(F.col("value") - F.col("med")), 6)
    )
    mad = d.groupBy("grp", "hr").agg(
        F.round(F.percentile("absdev", F.lit(0.5)), 6).alias("mad")
    )
    return (
        d.join(F.broadcast(mad), ["grp", "hr"])
        .where(F.col("absdev") > F.lit(k) * F.col("mad"))
        .select(
            "event_id",
            F.col("grp").alias(group_col),
            "hr",
            "value",
            "med",
            "mad",
            "absdev",
        )
    )


def seasonal_anomaly_sql(*, k: float = 3.0) -> str:
    """DuckDB oracle for :func:`seasonal_anomaly` over `events` (same
    two-level median/MAD recipe in relational form; quantile_cont is
    DuckDB's exact interpolated percentile, the standing portable pair
    for Spark's percentile())."""
    return f"""
    WITH e AS (
      SELECT event_id, event_type, hour(ts) AS hr, value FROM events
    ),
    m AS (
      SELECT event_type, hr, round(quantile_cont(value, 0.5), 6) AS med
      FROM e GROUP BY event_type, hr
    ),
    d AS (
      SELECT e.event_id, e.event_type, e.hr, e.value, m.med,
             round(abs(e.value - m.med), 6) AS absdev
      FROM e JOIN m USING (event_type, hr)
    ),
    s AS (
      SELECT event_type, hr, round(quantile_cont(absdev, 0.5), 6) AS mad
      FROM d GROUP BY event_type, hr
    )
    SELECT d.event_id, d.event_type, d.hr, d.value, d.med, s.mad,
           d.absdev
    FROM d JOIN s USING (event_type, hr)
    WHERE d.absdev > {k} * s.mad
    """


def cusum_drift(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    ts_col: str = "ts",
    slack: float = 0.5,
    threshold: float = 4.0,
) -> DataFrame:
    """Per-group CUSUM mean-shift drift audit over the DAILY event-count
    series (Page 1954's cumulative-sum control chart — the standard
    sequential drift detector: a sustained small shift accumulates past
    the threshold even when no single day is an outlier, exactly the
    failure mode the per-cell Hampel audit (:func:`seasonal_anomaly`)
    cannot see). Missing days count as 0 events: the calendar is the
    global [min_day, max_day] span, so a source going quiet IS drift.

    Two-sided standardized CUSUM with slack ``slack`` and threshold
    ``threshold`` (both in stddev units):
    ``sp_t = max(0, sp_{t-1} + z_t - slack)`` and symmetrically ``sn``
    for downward shifts; a day flags when either side exceeds the
    threshold.

    Cross-engine determinism: per-group mean/std come from INTEGER sums
    (S1, S2 over daily counts — var = S2/n - mean^2 on exact operands),
    z is quantized ONCE to integer micro-units
    (round(z*1e6) -> BIGINT), and the recursion is then evaluated via
    the max-drawdown identity ``sp_t = P_t - min(0, min_{j<=t} P_j)``
    with ``P_t = sum_{i<=t}(z_i - slack)`` — INTEGER running sums and
    running mins, bit-identical under any window implementation, no
    float fold anywhere.

    Returns (group, day, n_events, z, cusum_pos, cusum_neg, drift):
    z/cusum_* are the micro-unit integers divided by 1e6 (exact
    multiples), drift is the boolean threshold test on the integers.

    Scale shape: ONE corpus-sized keyed aggregate (group x day count
    with map-side partials); everything after runs on the tiny
    groups-x-days calendar frame (a broadcast 1-row span, a
    sequence-explode, two integer window scans). At 100 TB: one scan +
    one shuffle of daily partial counts, then kilobytes."""
    kappa6 = int(round(slack * 1_000_000))
    h6 = int(round(threshold * 1_000_000))
    e = events.select(
        F.col(group_col).alias("grp"),
        F.to_date(F.col(ts_col)).alias("day"),
    )
    daily = e.groupBy("grp", "day").agg(
        F.count("*").cast("long").alias("n_events")
    )
    span = daily.agg(
        F.min("day").alias("__d0"), F.max("day").alias("__d1")
    )
    calendar = (
        daily.select("grp").distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "grp",
            F.explode(
                F.sequence("__d0", "__d1", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    full = (
        calendar.join(daily, ["grp", "day"], "left")
        .select(
            "grp", "day", F.coalesce("n_events", F.lit(0)).alias("c")
        )
    )
    stats = full.groupBy("grp").agg(
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.count("*").alias("nd"),
    ).select(
        "grp",
        (F.col("s1").cast("double") / F.col("nd")).alias("mean"),
        F.sqrt(
            F.greatest(
                F.col("s2").cast("double") / F.col("nd")
                - (F.col("s1").cast("double") / F.col("nd"))
                * (F.col("s1").cast("double") / F.col("nd")),
                F.lit(0.0),
            )
        ).alias("sd"),
    )
    z6 = F.when(
        F.col("sd") > 0,
        F.round(
            (F.col("c").cast("double") - F.col("mean"))
            / F.col("sd") * F.lit(1_000_000.0),
            0,
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    w = (
        Window.partitionBy("grp")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = (
        full.join(F.broadcast(stats), "grp")
        .withColumn("z6", z6)
        .withColumn("p", F.sum(F.col("z6") - F.lit(kappa6)).over(w))
        .withColumn("q", F.sum(-F.col("z6") - F.lit(kappa6)).over(w))
    )
    sp = F.col("p") - F.least(F.lit(0).cast("long"), F.min("p").over(w))
    sn = F.col("q") - F.least(F.lit(0).cast("long"), F.min("q").over(w))
    return scored.select(
        F.col("grp").alias(group_col),
        "day",
        F.col("c").alias("n_events"),
        (F.col("z6").cast("double") / 1e6).alias("z"),
        (sp.cast("double") / 1e6).alias("cusum_pos"),
        (sn.cast("double") / 1e6).alias("cusum_neg"),
        ((sp > h6) | (sn > h6)).alias("drift"),
    )


def cusum_drift_sql(*, slack: float = 0.5, threshold: float = 4.0) -> str:
    """DuckDB oracle for :func:`cusum_drift` over `events`: identical
    calendar construction, integer quantization, and drawdown-identity
    windows (integer running sums/mins are order-free, so engine window
    internals cannot drift)."""
    kappa6 = int(round(slack * 1_000_000))
    h6 = int(round(threshold * 1_000_000))
    return f"""
    WITH daily AS (
      SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
    calendar AS (
      SELECT g.grp, CAST(u.day AS DATE) AS day
      FROM (SELECT DISTINCT grp FROM daily) g,
           (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM span) u
    ),
    filled AS (
      SELECT c.grp, c.day, COALESCE(d.n_events, 0) AS c
      FROM calendar c LEFT JOIN daily d
        ON c.grp = d.grp AND c.day = d.day
    ),
    stats AS (
      SELECT grp,
             CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mean,
             sqrt(greatest(
               CAST(SUM(c * c) AS DOUBLE) / COUNT(*)
               - (CAST(SUM(c) AS DOUBLE) / COUNT(*))
               * (CAST(SUM(c) AS DOUBLE) / COUNT(*)),
               0.0)) AS sd
      FROM filled GROUP BY grp
    ),
    scored AS (
      SELECT f.grp, f.day, f.c,
             CASE WHEN s.sd > 0
                  THEN CAST(round((CAST(f.c AS DOUBLE) - s.mean) / s.sd
                                  * 1000000.0, 0) AS BIGINT)
                  ELSE 0 END AS z6
      FROM filled f JOIN stats s ON f.grp = s.grp
    ),
    pq AS (
      SELECT grp, day, c, z6,
             SUM(z6 - {kappa6}) OVER
               (PARTITION BY grp ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS p,
             SUM(-z6 - {kappa6}) OVER
               (PARTITION BY grp ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS q
      FROM scored
    ),
    dd AS (
      SELECT grp, day, c, z6,
             p - least(0, MIN(p) OVER
               (PARTITION BY grp ORDER BY day
                ROWS UNBOUNDED PRECEDING)) AS sp,
             q - least(0, MIN(q) OVER
               (PARTITION BY grp ORDER BY day
                ROWS UNBOUNDED PRECEDING)) AS sn
      FROM pq
    )
    SELECT grp AS event_type, day, c AS n_events,
           CAST(z6 AS DOUBLE) / 1e6 AS z,
           CAST(sp AS DOUBLE) / 1e6 AS cusum_pos,
           CAST(sn AS DOUBLE) / 1e6 AS cusum_neg,
           (sp > {h6} OR sn > {h6}) AS drift
    FROM dd
    """


BURST_QUANTUM = 1_000.0
"""Cost quantization scale for burst_detection (milli-units).

Round-10 coarsening (VERDICT r9 item 1a): at quantum 1e6 the committed
margin audit measured cost-boundary floors of ~1e-5 micro-units — two
orders above a glibc-quality ln's ulp wiggle, but a driver DuckDB built
against a DIFFERENT libm (or vectorizing ln) can legally exceed that
band: a 1e-13-relative ln difference amplified by c<=n~1e3 is ~2e-5
micro-units. At quantum 1e3 the same absolute ln wiggle shrinks to
~2e-8 milli-units while the measured boundary margins stay O(0.01-0.1)
units — survivable under ANY IEEE-quality third engine, even a
fast-math one. The spec IS the quantized algorithm (identical constant
in both engines), so coarsening is a parameter choice, not a
correctness loss; tests/test_decision_margins.py re-audits the floors
at both gate SFs against the new scale."""


def _burst_scored_sql(*, burst_mult: float = 2.0) -> str:
    """Shared oracle CTE prefix for the burst family: calendar-filled
    daily counts, per-group p0/p1 from exact integer sums, and the
    integer milli-unit costs e0/e1 via floor(x*1e3 + 0.5) — pure IEEE
    floor/mult/add (never round(): Spark's round on DOUBLE re-reads the
    shortest decimal repr via BigDecimal.valueOf, which is boundary-
    unsafe cross-engine). Ends with the `idx` CTE (grp, day, c, n, e0,
    e1, i, n_i) so callers append their own recursive folds; `idx` is
    MATERIALIZED because DuckDB 1.0 otherwise re-inlines the whole chain
    down to the events scan in every iteration of a fold that reads it."""
    q = BURST_QUANTUM
    return f"""
    WITH RECURSIVE daily AS (
      SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT day, CAST(SUM(c) AS BIGINT) AS n FROM daily GROUP BY day),
    span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
    cal AS (
      SELECT g.grp, CAST(u.day AS DATE) AS day
      FROM (SELECT DISTINCT grp FROM daily) g,
           (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM span) u
    ),
    filled AS (
      SELECT cal.grp, cal.day,
             CAST(COALESCE(d.c, 0) AS BIGINT) AS c,
             CAST(COALESCE(t.n, 0) AS BIGINT) AS n
      FROM cal LEFT JOIN daily d ON cal.grp = d.grp AND cal.day = d.day
               LEFT JOIN tot t ON cal.day = t.day
    ),
    stats AS (
      SELECT grp,
             CAST(SUM(c) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS p0,
             least(1.0 - 1e-6, {burst_mult} * CAST(SUM(c) AS DOUBLE)
                   / CAST(SUM(n) AS DOUBLE)) AS p1
      FROM filled GROUP BY grp
    ),
    scored AS (
      SELECT f.grp, f.day, f.c, f.n,
             CASE WHEN f.n > 0 THEN CAST(floor(
               -(CAST(f.c AS DOUBLE) * ln(s.p0)
                 + CAST(f.n - f.c AS DOUBLE) * ln(1.0 - s.p0)) * {q}
               + 0.5) AS BIGINT) ELSE 0 END AS e0,
             CASE WHEN f.n > 0 THEN CAST(floor(
               -(CAST(f.c AS DOUBLE) * ln(s.p1)
                 + CAST(f.n - f.c AS DOUBLE) * ln(1.0 - s.p1)) * {q}
               + 0.5) AS BIGINT) ELSE 0 END AS e1
      FROM filled f JOIN stats s ON f.grp = s.grp
    ),
    idx AS MATERIALIZED (
      SELECT grp, day, c, n, e0, e1,
             CAST(row_number() OVER (PARTITION BY grp ORDER BY day)
                  AS BIGINT) AS i,
             CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n_i
      FROM scored
    )"""


def _burst_scored(
    events: DataFrame,
    *,
    group_col: str,
    ts_col: str,
    burst_mult: float,
) -> DataFrame:
    """Shared Spark prefix for the burst family: (grp, day, c, n, e0,
    e1) with integer milli-unit costs — the exact twin of
    :func:`_burst_scored_sql`'s `scored` CTE."""
    e = events.select(
        F.col(group_col).alias("grp"),
        F.to_date(F.col(ts_col)).alias("day"),
    )
    daily = e.groupBy("grp", "day").agg(
        F.count("*").cast("long").alias("c")
    )
    tot = daily.groupBy("day").agg(F.sum("c").alias("n"))
    span = daily.agg(F.min("day").alias("__d0"), F.max("day").alias("__d1"))
    calendar = (
        daily.select("grp").distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "grp",
            F.explode(
                F.sequence("__d0", "__d1", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    filled = (
        calendar.join(daily, ["grp", "day"], "left")
        .join(F.broadcast(tot), "day", "left")
        .select(
            "grp", "day",
            F.coalesce("c", F.lit(0)).alias("c"),
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )
    p0 = F.col("sc").cast("double") / F.col("sn").cast("double")
    stats = (
        filled.groupBy("grp")
        .agg(F.sum("c").alias("sc"), F.sum("n").alias("sn"))
        .select(
            "grp",
            p0.alias("p0"),
            F.least(F.lit(1.0 - 1e-6), F.lit(burst_mult) * p0).alias("p1"),
        )
    )

    def nll(p: Column) -> Column:
        # floor(x + 0.5), NOT round(x): F.round on DOUBLE goes through
        # BigDecimal.valueOf (shortest decimal repr) — boundary-unsafe
        # cross-engine. floor/mult/add are exact IEEE ops in both
        # engines; the margin audit guards the remaining ln wiggle.
        return F.when(
            F.col("n") > 0,
            F.floor(
                -(
                    F.col("c").cast("double") * F.log(p)
                    + (F.col("n") - F.col("c")).cast("double")
                    * F.log(F.lit(1.0) - p)
                )
                * F.lit(BURST_QUANTUM)
                + F.lit(0.5)
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    return filled.join(F.broadcast(stats), "grp").select(
        "grp", "day", "c", "n",
        nll(F.col("p0")).alias("e0"),
        nll(F.col("p1")).alias("e1"),
    )


def _burst_gamma(gamma_scale: float) -> int:
    """Burst entry cost gamma = ln(gamma_scale), in integer milli-units
    (driver-side constant, identical literal in both engines)."""
    import math

    return int(round(math.log(gamma_scale) * BURST_QUANTUM))


def _burst_walk_col(g: int) -> "tuple[Column, Column]":
    """Given sorted per-group cost structs `xs` (day, c, n, e0, e1),
    build (walk, states) columns.

    The two-state Viterbi reduces to a SCALAR integer walk (round-10
    reformulation, VERDICT r9 item 1b). With c0/c1 the usual forward
    minima (c0_t = e0_t + min(c0', c1'); c1_t = e1_t + min(c0' + g,
    c1')), the difference D = c1 - c0 satisfies

        D_1 = e1_1 - e0_1 + g
        D_t = (e1_t - e0_t) + clamp(D_{t-1}, 0, g)

    because min(c0'+g, c1') - min(c0', c1') = min(g, D') - min(0, D')
    = clamp(D', 0, g). The parent pointers are FUNCTIONS of D': the
    predecessor of q0 is q1 iff D' < 0 (tie prefers q0), and the
    predecessor of q1 is q0 iff D' > g (tie prefers q1) — the exact
    tie-breaks of the round-9 pointer formulation. The final state is
    q1 iff D_T < 0 (tie prefers q0). So the backtrack reads D against
    0/g and no unbounded c0/c1 sums or parent-pointer strings exist:
    every comparison is small-integer-exact in any engine."""
    init = F.expr("CAST(array() AS array<bigint>)")

    def step(acc, x):
        first = F.size(acc) == 0
        prev = F.element_at(acc, -1)
        d = x["e1"] - x["e0"] + F.when(first, F.lit(g).cast("long")).otherwise(
            F.least(F.greatest(prev, F.lit(0).cast("long")),
                    F.lit(g).cast("long"))
        )
        return F.concat(acc, F.array(d))

    walk = F.aggregate("xs", init, step)
    # backward trace over [D_{T-1}, ..., D_1]; seed from D_T
    d_last = F.element_at(walk, -1)
    final_s = F.when(d_last < 0, F.lit(1)).otherwise(F.lit(0)).cast("int")
    states = F.reverse(
        F.aggregate(
            F.reverse(
                F.slice(walk, 1, F.greatest(F.size(walk) - 1, F.lit(0)))
            ),
            F.struct(final_s.alias("s"), F.array(final_s).alias("states")),
            lambda acc, d: F.struct(
                F.when(
                    acc["s"] == 1,
                    F.when(d > g, F.lit(0)).otherwise(F.lit(1)),
                )
                .otherwise(
                    F.when(d < 0, F.lit(1)).otherwise(F.lit(0))
                )
                .cast("int")
                .alias("s"),
                F.concat(
                    acc["states"],
                    F.array(
                        F.when(
                            acc["s"] == 1,
                            F.when(d > g, F.lit(0)).otherwise(F.lit(1)),
                        )
                        .otherwise(
                            F.when(d < 0, F.lit(1)).otherwise(F.lit(0))
                        )
                        .cast("int")
                    ),
                ).alias("states"),
            ),
            lambda acc: acc["states"],
        )
    )
    return walk, states


def burst_detection(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    ts_col: str = "ts",
    burst_mult: float = 2.0,
    gamma_scale: float = 30.0,
) -> DataFrame:
    """Kleinberg two-state burst detection (Kleinberg KDD'02, "Bursty
    and Hierarchical Structure in Streams", batch two-state variant)
    over each group's DAILY share of the corpus event stream: state q0
    emits at the group's base rate p0 = its overall share of daily
    totals, state q1 at p1 = min(burst_mult * p0, 1-1e-6); a day costs
    the binomial negative log-likelihood -(c ln p + (n-c) ln(1-p)) in
    its state and entering q1 costs gamma = ln(gamma_scale); the
    minimum-cost state sequence (Viterbi) marks burst days. Unlike a
    per-day threshold (seasonal_anomaly) or drift accumulation
    (cusum_drift), this yields coherent burst INTERVALS: brief dips
    inside a burst stay marked because switching back costs more than
    the dip saves.

    Cross-engine determinism (round-10 hardening, after driver reds in
    r8 AND r9 with a local replica green on the identical commit/data —
    the divergence is inside the driver's newer DuckDB binary): costs
    quantize ONCE to integer MILLI-units via floor(x*1e3 + 0.5) — see
    BURST_QUANTUM for why 1e3 makes the margins robust to ANY libm —
    and the Viterbi collapses to a scalar integer walk
    D_t = (e1_t - e0_t) + clamp(D_{t-1}, 0, gamma) with the backtrack
    reading D against 0/gamma (derivation in :func:`_burst_walk_col`),
    eliminating the parent-pointer strings and most of the oracle's
    version-sensitive recursive-CTE machinery. Tie-breaks are pinned:
    ties prefer q0 on entry, q1 on stay, q0 at the final day —
    identical to the pointer formulation they replace.

    Returns (group, day, n_events, day_total, burst). Missing days
    count 0 against that day's total (the cusum_drift calendar rule).

    Scale shape: ONE corpus-sized aggregate (group x day partial
    counts); the calendar join, stats, and the fold run on the tiny
    groups-x-days frame. The fold is O(days^2) array copies per group
    (bounded: one bigint per day) — at 100 TB this is still kilobytes
    per group after the single shuffle."""
    g = _burst_gamma(gamma_scale)
    scored = _burst_scored(
        events, group_col=group_col, ts_col=ts_col, burst_mult=burst_mult
    )
    ser = scored.groupBy("grp").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("day").alias("day"), F.col("c").alias("c"),
                    F.col("n").alias("n"), F.col("e0").alias("e0"),
                    F.col("e1").alias("e1"),
                )
            )
        ).alias("xs")
    )
    _, states = _burst_walk_col(g)
    return (
        ser.select("grp", F.arrays_zip("xs", states.alias("st")).alias("z"))
        .select("grp", F.explode("z").alias("e"))
        .select(
            F.col("grp").alias(group_col),
            F.col("e.xs.day").alias("day"),
            F.col("e.xs.c").alias("n_events"),
            F.col("e.xs.n").alias("day_total"),
            (F.col("e.st") == 1).alias("burst"),
        )
    )


def burst_detection_sql(
    *, burst_mult: float = 2.0, gamma_scale: float = 30.0
) -> str:
    """DuckDB oracle for :func:`burst_detection` over `events`: same
    calendar, same floor(x*1e3 + 0.5) milli-unit quantization, and the
    Viterbi restated as the SCALAR integer walk D_t = (e1_t - e0_t) +
    clamp(D_{t-1}, 0, gamma) (round-10 rewrite; derivation in
    :func:`_burst_walk_col`) — two small recursive CTEs over pure
    integer arithmetic, no parent-pointer strings, no list lambdas
    (whose accumulator behavior proved DuckDB-version-specific in r8)."""
    g = _burst_gamma(gamma_scale)
    return _burst_scored_sql(burst_mult=burst_mult) + f""",
    walk AS (
      SELECT grp, i, n_i, e1 - e0 + {g} AS d FROM idx WHERE i = 1
      UNION ALL
      SELECT s.grp, s.i, s.n_i,
             s.e1 - s.e0 + least(greatest(w.d, 0), {g}) AS d
      FROM walk w JOIN idx s ON s.grp = w.grp AND s.i = w.i + 1
    ),
    bwd AS (
      SELECT grp, n_i AS i, CASE WHEN d < 0 THEN 1 ELSE 0 END AS s
      FROM walk WHERE i = n_i
      UNION ALL
      SELECT b.grp, b.i - 1,
             CASE WHEN b.s = 1
                  THEN (CASE WHEN w.d > {g} THEN 0 ELSE 1 END)
                  ELSE (CASE WHEN w.d < 0 THEN 1 ELSE 0 END) END AS s
      FROM bwd b JOIN walk w ON w.grp = b.grp AND w.i = b.i - 1
      WHERE b.i > 1
    )
    SELECT x.grp AS event_type, x.day, x.c AS n_events,
           x.n AS day_total, b.s = 1 AS burst
    FROM idx x JOIN bwd b ON x.grp = b.grp AND x.i = b.i
    """


def burst_costs_probe(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    ts_col: str = "ts",
    burst_mult: float = 2.0,
) -> DataFrame:
    """Bisection probe #1 (VERDICT r9 item 2): the burst_detection
    pipeline TRUNCATED after cost quantization — (event_type, day,
    n_events, day_total, e0, e1), no Viterbi. Registered as a gate
    query so the DRIVER's DuckDB evaluates the quantization stage in
    isolation: costs green + walk red localizes the r8/r9 divergence to
    recursive-CTE semantics; costs red localizes it to ln/arithmetic
    upstream; both green with burst red localizes it to the backtrack.

    The r10 bisection verdict (walk GREEN, costs RED) localized the
    divergence to the one typed column this probe emits and the walk
    doesn't: day_total carried DuckDB's un-cast HUGEINT SUM — fixed in
    _burst_scored_sql (r11). Retirement is deferred: the r11 gate is
    FROZEN to CORRECTNESS_r10's exact 50 names (VERDICT r10 item 2 —
    dropping a declared name counts as a regression), so the probes
    stay registered and green until a future gate rotation."""
    return _burst_scored(
        events, group_col=group_col, ts_col=ts_col, burst_mult=burst_mult
    ).select(
        F.col("grp").alias(group_col),
        "day",
        F.col("c").alias("n_events"),
        F.col("n").alias("day_total"),
        "e0", "e1",
    )


def burst_costs_probe_sql(*, burst_mult: float = 2.0) -> str:
    """DuckDB oracle for :func:`burst_costs_probe`: the shared `scored`
    stage alone (via `idx`, which adds only row numbers)."""
    return _burst_scored_sql(burst_mult=burst_mult) + """
    SELECT grp AS event_type, day, c AS n_events, n AS day_total, e0, e1
    FROM idx
    """


def burst_walk_probe(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    ts_col: str = "ts",
    burst_mult: float = 2.0,
    gamma_scale: float = 30.0,
) -> DataFrame:
    """Bisection probe #2 (VERDICT r9 item 2): the burst_detection
    pipeline through the FORWARD walk — (event_type, day, d) with
    d = D_t from the scalar recurrence — but not the backtrack. See
    :func:`burst_costs_probe` for the localization table."""
    g = _burst_gamma(gamma_scale)
    scored = _burst_scored(
        events, group_col=group_col, ts_col=ts_col, burst_mult=burst_mult
    )
    ser = scored.groupBy("grp").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("day").alias("day"), F.col("c").alias("c"),
                    F.col("n").alias("n"), F.col("e0").alias("e0"),
                    F.col("e1").alias("e1"),
                )
            )
        ).alias("xs")
    )
    walk, _ = _burst_walk_col(g)
    return (
        ser.select("grp", F.arrays_zip("xs", walk.alias("d")).alias("z"))
        .select("grp", F.explode("z").alias("e"))
        .select(
            F.col("grp").alias(group_col),
            F.col("e.xs.day").alias("day"),
            F.col("e.d").alias("d"),
        )
    )


def burst_walk_probe_sql(
    *, burst_mult: float = 2.0, gamma_scale: float = 30.0
) -> str:
    """DuckDB oracle for :func:`burst_walk_probe`: the forward-walk
    recursive CTE alone."""
    g = _burst_gamma(gamma_scale)
    return _burst_scored_sql(burst_mult=burst_mult) + f""",
    walk AS (
      SELECT grp, i, n_i, day, e1 - e0 + {g} AS d FROM idx WHERE i = 1
      UNION ALL
      SELECT s.grp, s.i, s.n_i, s.day,
             s.e1 - s.e0 + least(greatest(w.d, 0), {g}) AS d
      FROM walk w JOIN idx s ON s.grp = w.grp AND s.i = w.i + 1
    )
    SELECT grp AS event_type, day, d FROM walk
    """


def holt_forecast(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    ts_col: str = "ts",
    alpha: float = 0.5,
    beta: float = 0.3,
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing (Holt 1957)
    over per-group DAILY event counts, with the one-step-ahead
    backtest that makes it auditable: for every day the model's
    prediction from the PREVIOUS day's state is recorded next to the
    actual, so mean |error| is measurable per group — the capacity-
    planning / trend-drift primitive (a rising trend component is
    drift even while CUSUM's mean-model still tolerates the level).

    l_t = alpha*x_t + (1-alpha)*(l_{t-1} + b_{t-1});
    b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}; init l_1 = x_1,
    b_1 = 0 (the state-free init, documented — avoids the x_2-x_1
    variant whose seed would need lookahead in a fold).

    Returns (group, day, n_events, level, trend, forecast, abs_err):
    forecast is the pre-update prediction l_{t-1}+b_{t-1} (NULL on the
    first day), values round(6). The smoothing recursion is a
    SEQUENTIAL float fold evaluated in identical IEEE op order by both
    engines (the bigram_lm ordered-fold recipe); the DuckDB oracle
    replays it with the bare-list accumulator whose last element
    carries (l, b) (the burst_detection shape).

    Scale shape: one corpus-sized daily count aggregate (calendar-
    filled, the cusum_drift rule); the fold runs on the tiny
    groups-x-days frame."""
    e = events.select(
        F.col(group_col).alias("grp"),
        F.to_date(F.col(ts_col)).alias("day"),
    )
    daily = e.groupBy("grp", "day").agg(
        F.count("*").cast("long").alias("c")
    )
    span = daily.agg(F.min("day").alias("__d0"), F.max("day").alias("__d1"))
    calendar = (
        daily.select("grp").distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "grp",
            F.explode(
                F.sequence("__d0", "__d1", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    filled = (
        calendar.join(daily, ["grp", "day"], "left")
        .select("grp", "day", F.coalesce("c", F.lit(0)).alias("c"))
    )
    ser = filled.groupBy("grp").agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("day").alias("day"), F.col("c").alias("c"))
            )
        ).alias("xs")
    )
    a, b_ = float(alpha), float(beta)
    init = F.expr(
        "CAST(array() AS array<struct<day:date,c:bigint,l:double,"
        "b:double,f:double>>)"
    )

    def step(acc, x):
        first = F.size(acc) == 0
        prev = F.element_at(acc, -1)
        xd = x["c"].cast("double")
        fc = prev["l"] + prev["b"]
        nl = F.when(first, xd).otherwise(
            F.lit(a) * xd + F.lit(1.0 - a) * fc
        )
        nb = F.when(first, F.lit(0.0)).otherwise(
            F.lit(b_) * (nl - prev["l"]) + F.lit(1.0 - b_) * prev["b"]
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    x["day"].alias("day"), x["c"].alias("c"),
                    nl.alias("l"), nb.alias("b"),
                    F.when(first, F.lit(None).cast("double"))
                    .otherwise(fc).alias("f"),
                )
            ),
        )

    folded = ser.select(
        "grp", F.aggregate("xs", init, step).alias("out")
    )
    return (
        folded.select("grp", F.explode("out").alias("e"))
        .select(
            F.col("grp").alias(group_col),
            F.col("e.day").alias("day"),
            F.col("e.c").alias("n_events"),
            F.round("e.l", 6).alias("level"),
            F.round("e.b", 6).alias("trend"),
            F.round("e.f", 6).alias("forecast"),
            F.round(
                F.abs(F.col("e.c").cast("double") - F.col("e.f")), 6
            ).alias("abs_err"),
        )
    )


def holt_forecast_sql(*, alpha: float = 0.5, beta: float = 0.3) -> str:
    """DuckDB oracle for :func:`holt_forecast` over `events`: the same
    sequential recursion via a bare-list list_reduce (every element
    seeds itself as-if-first; the merge recomputes from the last
    carried state — the burst_detection accumulator shape)."""
    a, b_ = float(alpha), float(beta)
    return f"""
    WITH daily AS (
      SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
    cal AS (
      SELECT g.grp, CAST(u.day AS DATE) AS day
      FROM (SELECT DISTINCT grp FROM daily) g,
           (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM span) u
    ),
    filled AS (
      SELECT cal.grp, cal.day, COALESCE(d.c, 0) AS c
      FROM cal LEFT JOIN daily d ON cal.grp = d.grp AND cal.day = d.day
    ),
    ser AS (
      SELECT grp, list({{'day': day, 'c': c}} ORDER BY day) AS xs
      FROM filled GROUP BY grp
    ),
    folded AS (
      SELECT grp,
        list_reduce(
          list_transform(xs, x -> [{{
            'day': x.day, 'c': x.c,
            'l': CAST(x.c AS DOUBLE), 'b': CAST(0.0 AS DOUBLE),
            'f': CAST(NULL AS DOUBLE)}}]),
          -- every float literal CAST to DOUBLE: DuckDB parses 0.3 as
          -- DECIMAL(2,1), which would silently type the accumulator
          -- fields decimal and round the recursion (the documented
          -- decimal-literal float trap)
          (acc, e) -> list_concat(acc, [{{
            'day': e[1].day, 'c': e[1].c,
            'l': CAST({a} AS DOUBLE) * CAST(e[1].c AS DOUBLE)
                 + CAST({1.0 - a} AS DOUBLE)
                   * (acc[len(acc)].l + acc[len(acc)].b),
            'b': CAST({b_} AS DOUBLE)
                 * ((CAST({a} AS DOUBLE) * CAST(e[1].c AS DOUBLE)
                     + CAST({1.0 - a} AS DOUBLE)
                       * (acc[len(acc)].l + acc[len(acc)].b))
                    - acc[len(acc)].l)
                 + CAST({1.0 - b_} AS DOUBLE) * acc[len(acc)].b,
            'f': acc[len(acc)].l + acc[len(acc)].b}}])
        ) AS out
      FROM ser
    )
    -- spark_round6_sql, not round(): the fold's carried doubles are
    -- bit-identical across engines, but Spark rounds the SHORTEST
    -- decimal repr while DuckDB round() uses the exact binary value —
    -- they disagree on repr-boundary cells (66.1600125 at sf0.01)
    SELECT grp AS event_type, out[i].day AS day, out[i].c AS n_events,
           {spark_round6_sql('out[i].l')} AS level,
           {spark_round6_sql('out[i].b')} AS trend,
           {spark_round6_sql('out[i].f')} AS forecast,
           {spark_round6_sql('abs(CAST(out[i].c AS DOUBLE) - out[i].f)')}
             AS abs_err
    FROM folded, unnest(generate_series(1, len(out))) AS u(i)
    """


def acf_audit(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    ts_col: str = "ts",
    max_lag: int = 7,
) -> DataFrame:
    """Per-group autocorrelation function over daily event counts at
    lags 1..``max_lag`` (Box-Jenkins sample ACF: r_k =
    sum (x_t - mu)(x_{t+k} - mu) / sum (x_t - mu)^2), with the
    +-1.96/sqrt(n) white-noise band as a significance boolean — the
    seasonality / serial-dependence diagnostic that tells you whether
    the Hampel/CUSUM/Holt family's independence-ish assumptions hold
    (a strong lag-7 says weekly cycle: audit per weekday instead).

    Returns (group, lag, n_days, acf, significant): acf round(6), NULL
    for a constant series (zero variance — undefined, surfaced);
    lags >= n_days yield no row. mu derives from the exact integer sum;
    numerator/denominator accumulate in day order via array folds the
    DuckDB oracle replays ordered (the char_entropy recipe).

    Scale shape: one corpus-sized daily count aggregate; the per-group
    ACF is pure array algebra over the tiny groups-x-days frame (7
    slices of a <=days-long array per group)."""
    e = events.select(
        F.col(group_col).alias("grp"),
        F.to_date(F.col(ts_col)).alias("day"),
    )
    daily = e.groupBy("grp", "day").agg(
        F.count("*").cast("long").alias("c")
    )
    span = daily.agg(F.min("day").alias("__d0"), F.max("day").alias("__d1"))
    calendar = (
        daily.select("grp").distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "grp",
            F.explode(
                F.sequence("__d0", "__d1", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    filled = (
        calendar.join(daily, ["grp", "day"], "left")
        .select("grp", "day", F.coalesce("c", F.lit(0)).alias("c"))
    )
    ser = filled.groupBy("grp").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("day").alias("day"), F.col("c").alias("c"))
                )
            ),
            lambda s: s["c"],
        ).alias("xs")
    )
    n = F.size("xs")
    lagged = ser.select(
        "grp", "xs", n.alias("n"),
        F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag"),
    ).filter(F.col("lag") < F.col("n"))
    mu = (
        F.aggregate(
            F.col("xs"), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).cast("double")
        / F.col("n").cast("double")
    )
    den = F.aggregate(
        F.col("xs"),
        F.lit(0.0),
        lambda acc, x: acc + (x.cast("double") - mu)
        * (x.cast("double") - mu),
    )
    num = F.aggregate(
        F.zip_with(
            F.slice(F.col("xs"), F.lit(1), F.col("n") - F.col("lag")),
            F.slice(
                F.col("xs"), F.col("lag") + 1, F.col("n") - F.col("lag")
            ),
            lambda p, q: (p.cast("double") - mu)
            * (q.cast("double") - mu),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    acf = F.when(den > 0, F.round(num / den, 6))
    return lagged.select(
        F.col("grp").alias(group_col),
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_days"),
        acf.alias("acf"),
        F.when(
            den > 0,
            F.abs(F.round(num / den, 6))
            > F.lit(1.96) / F.sqrt(F.col("n").cast("double")),
        ).alias("significant"),
    )


def acf_audit_sql(*, max_lag: int = 7) -> str:
    """DuckDB oracle for :func:`acf_audit` over `events`: identical
    day-ordered list folds and float expression shapes (all literals
    CAST to DOUBLE — the decimal-literal trap)."""
    mu = ("CAST(list_reduce(list_transform(xs, v -> CAST(v AS DOUBLE)),"
          " (p, q) -> p + q) AS DOUBLE) / CAST(len(xs) AS DOUBLE)")
    den = (f"list_reduce(list_transform(xs, v -> "
           f"(CAST(v AS DOUBLE) - {mu}) * (CAST(v AS DOUBLE) - {mu})), "
           f"(p, q) -> p + q)")
    num = (f"list_reduce(list_transform("
           f"list_zip(list_slice(xs, 1, len(xs) - lag), "
           f"list_slice(xs, lag + 1, len(xs))), z -> "
           f"(CAST(z[1] AS DOUBLE) - {mu})"
           f" * (CAST(z[2] AS DOUBLE) - {mu})), (p, q) -> p + q)")
    return f"""
    WITH daily AS (
      SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
    cal AS (
      SELECT g.grp, CAST(u.day AS DATE) AS day
      FROM (SELECT DISTINCT grp FROM daily) g,
           (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM span) u
    ),
    filled AS (
      SELECT cal.grp, cal.day, COALESCE(d.c, 0) AS c
      FROM cal LEFT JOIN daily d ON cal.grp = d.grp AND cal.day = d.day
    ),
    ser AS (
      SELECT grp, list(c ORDER BY day) AS xs
      FROM filled GROUP BY grp
    ),
    lagged AS (
      SELECT grp, xs, len(xs) AS n, u.lag
      FROM ser, unnest(generate_series(1, {max_lag})) AS u(lag)
      WHERE u.lag < len(xs)
    )
    SELECT grp AS event_type, CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_days,
           CASE WHEN {den} > CAST(0.0 AS DOUBLE)
                THEN round({num} / {den}, 6) END AS acf,
           CASE WHEN {den} > CAST(0.0 AS DOUBLE)
                THEN abs(round({num} / {den}, 6))
                     > CAST(1.96 AS DOUBLE)
                       / sqrt(CAST(n AS DOUBLE)) END AS significant
    FROM lagged
    """


def markov_transitions(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition structure of per-user event
    sequences: for every observed (from_type, to_type) pair, the exact
    transition count, the from-state total, the maximum-likelihood
    transition probability, and the rank of the transition within its
    from-state. The structural complement to :func:`event_paths` —
    that operator mines frequent literal paths; this one estimates the
    chain that GENERATES them (the standard sequence-model audit:
    self-loop mass, absorbing states, dominant next-step per state).

    Scale shape: ONE shuffle keying events by user for the lag window
    (the same key every sessionization op in the repo uses), then a
    states-x-states sized aggregate with map-side partial combine —
    the output is |event_type|^2 rows no matter how large the corpus.
    Cross-engine: counts and totals are exact integers; the MLE
    probability is a single integer/integer double division rounded to
    9 (the repo's float-boundary recipe); ordering inside a from-state
    ties on (count DESC, to_type ASC), both deterministic.

    Sequence order is (ts, id) — the id tie-break pins the lag result
    when two events of one user share a timestamp."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    trans = (
        events.withColumn("__prev", F.lag(type_col).over(w))
        .where(F.col("__prev").isNotNull())
        .groupBy(
            F.col("__prev").alias("from_type"),
            F.col(type_col).alias("to_type"),
        )
        .agg(F.count("*").alias("n_transitions"))
    )
    wf = Window.partitionBy("from_type")
    wr = Window.partitionBy("from_type").orderBy(
        F.desc("n_transitions"), F.asc("to_type")
    )
    return trans.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.sum("n_transitions").over(wf).alias("from_total"),
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(wf),
            9,
        ).alias("p_mle"),
        F.row_number().over(wr).cast("long").alias("rank_in_state"),
    )


def markov_transitions_sql() -> str:
    """DuckDB replay of :func:`markov_transitions` over the events
    view (same (ts, event_id) lag order, same round-9 MLE)."""
    return """
    WITH seq AS (
      SELECT event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ),
    t AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             COUNT(*) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT from_type, to_type, CAST(n_transitions AS BIGINT) AS n_transitions,
           CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
             AS from_total,
           round(CAST(n_transitions AS DOUBLE) /
                 SUM(n_transitions) OVER (PARTITION BY from_type), 9)
             AS p_mle,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY from_type
             ORDER BY n_transitions DESC, to_type ASC
           ) AS BIGINT) AS rank_in_state
    FROM t
    """


def kaplan_meier(
    events: DataFrame,
    *,
    subject_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    censor_window_days: int = 7,
) -> DataFrame:
    """Kaplan-Meier product-limit survival estimate (Kaplan & Meier
    '58) of subject LIFETIME — days between a subject's first and last
    event, where a subject is one combination of ``subject_cols``
    (plain users, or (user, event_type) for per-behavior engagement
    lifetimes) — with right-censoring: a subject whose last event
    falls within ``censor_window_days`` of the corpus's maximum event
    day may still be active, so their lifetime is a lower bound
    (censored), not a death. This is the churn/retention primitive
    naive averages get wrong: dropping censored subjects biases
    lifetime down, counting them as dead biases it further; KM uses
    each censored subject exactly as long as they were observed.

    Returns one row per distinct DEATH time t (days): n_at_risk
    (subjects with lifetime >= t, censored or not —
    deaths-before-censorings at equal t, the standard convention),
    n_deaths, n_censored (censored exactly at t), and survival =
    prod_{t_i <= t} (1 - d_i / n_i) rounded to 9.

    Determinism: lifetimes/counters are exact integers (datediff of
    DATEs); each survival factor is one integer/integer double
    division and the running product is an ascending-t ordered fold —
    identical IEEE multiply sequence in both engines (the holt_forecast
    recipe; DuckDB replays it as a bare-list list_reduce).

    Scale shape: ONE corpus-sized aggregate keyed by user (min/max ts,
    map-side combine), one |distinct-lifetimes|-sized aggregate, then
    window sums and ONE fold over that tiny frame (bounded by the
    calendar span in days, never by users). The global max-day rides
    along as a 1-row broadcast — no driver collect."""
    users = (
        events.groupBy(*[F.col(c) for c in subject_cols])
        .agg(
            F.min(F.to_date(F.col(ts_col))).alias("__first"),
            F.max(F.to_date(F.col(ts_col))).alias("__last"),
        )
    )
    maxday = events.agg(
        F.max(F.to_date(F.col(ts_col))).alias("__dmax")
    )
    lt = (
        users.join(F.broadcast(maxday))
        .select(
            F.datediff("__last", "__first").cast("long").alias("t"),
            (
                F.datediff("__dmax", "__last")
                < F.lit(int(censor_window_days))
            ).alias("__cens"),
        )
        .groupBy("t")
        .agg(
            F.sum(F.when(~F.col("__cens"), 1).otherwise(0))
            .cast("long").alias("n_deaths"),
            F.sum(F.when(F.col("__cens"), 1).otherwise(0))
            .cast("long").alias("n_censored"),
        )
    )
    w_risk = (
        Window.orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    at_risk = lt.select(
        "t", "n_deaths", "n_censored",
        F.sum(F.col("n_deaths") + F.col("n_censored"))
        .over(w_risk).cast("long").alias("n_at_risk"),
    )
    # ordered product fold over the tiny death-time frame: factor
    # (n_i - d_i) / n_i at each death time, ascending t
    folded = (
        at_risk.where(F.col("n_deaths") > 0)
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("t", "n_deaths", "n_censored", "n_at_risk")
                )
            ).alias("xs")
        )
        .select(
            F.aggregate(
                "xs",
                F.expr(
                    "CAST(array() AS array<struct<t:bigint,"
                    "n_deaths:bigint,n_censored:bigint,"
                    "n_at_risk:bigint,s:double>>)"
                ),
                lambda acc, x: F.concat(
                    acc,
                    F.array(
                        F.struct(
                            x["t"].alias("t"),
                            x["n_deaths"].alias("n_deaths"),
                            x["n_censored"].alias("n_censored"),
                            x["n_at_risk"].alias("n_at_risk"),
                            (
                                F.when(
                                    F.size(acc) == 0, F.lit(1.0)
                                ).otherwise(F.element_at(acc, -1)["s"])
                                * (
                                    (
                                        x["n_at_risk"] - x["n_deaths"]
                                    ).cast("double")
                                    / x["n_at_risk"].cast("double")
                                )
                            ).alias("s"),
                        )
                    ),
                ),
            ).alias("out")
        )
    )
    return folded.select(F.explode("out").alias("e")).select(
        F.col("e.t").alias("t_days"),
        F.col("e.n_at_risk").alias("n_at_risk"),
        F.col("e.n_deaths").alias("n_deaths"),
        F.col("e.n_censored").alias("n_censored"),
        F.round("e.s", 9).alias("survival"),
    )


def kaplan_meier_sql(
    *,
    subject_cols: Sequence[str] = ("user_id",),
    censor_window_days: int = 7,
) -> str:
    """DuckDB replay of :func:`kaplan_meier` over the events view:
    identical integer lifetimes/counters, identical ascending-t
    bare-list list_reduce product (first element seeds itself with
    factor * 1.0 — equal to the Spark fold's empty-accumulator
    seed)."""
    subj = ", ".join(subject_cols)
    return f"""
    WITH users AS (
      SELECT {subj},
             MIN(CAST(ts AS DATE)) AS first_d,
             MAX(CAST(ts AS DATE)) AS last_d
      FROM events GROUP BY {subj}
    ),
    mx AS (SELECT MAX(CAST(ts AS DATE)) AS dmax FROM events),
    lt AS (
      SELECT datediff('day', first_d, last_d) AS t,
             datediff('day', last_d, mx.dmax)
               < {int(censor_window_days)} AS cens
      FROM users, mx
    ),
    grp AS (
      SELECT t,
             SUM(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS n_deaths,
             SUM(CASE WHEN cens THEN 1 ELSE 0 END) AS n_censored
      FROM lt GROUP BY t
    ),
    risk AS (
      SELECT t, n_deaths, n_censored,
             SUM(n_deaths + n_censored) OVER (
               ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS n_at_risk
      FROM grp
    ),
    deaths AS (
      SELECT * FROM risk WHERE n_deaths > 0
    ),
    ser AS (
      SELECT list(
        {{'t': t, 'nd': n_deaths, 'nc': n_censored, 'nr': n_at_risk,
          'f': CAST(n_at_risk - n_deaths AS DOUBLE)
               / CAST(n_at_risk AS DOUBLE)}}
        ORDER BY t
      ) AS xs
      FROM deaths
    ),
    folded AS (
      -- bare-list accumulator (the holt_forecast shape): every element
      -- seeds itself as-if-first (s = 1.0 * factor = factor), the merge
      -- carries the running product from the last appended state
      SELECT list_reduce(
        list_transform(xs, x -> [{{
          't': x.t, 'nd': x.nd, 'nc': x.nc, 'nr': x.nr, 's': x.f}}]),
        (acc, e) -> list_concat(acc, [{{
          't': e[1].t, 'nd': e[1].nd, 'nc': e[1].nc, 'nr': e[1].nr,
          's': acc[len(acc)].s * e[1].s}}])
      ) AS out
      FROM ser
    )
    SELECT CAST(out[i].t AS BIGINT) AS t_days,
           CAST(out[i].nr AS BIGINT) AS n_at_risk,
           CAST(out[i].nd AS BIGINT) AS n_deaths,
           CAST(out[i].nc AS BIGINT) AS n_censored,
           round(out[i].s, 9) AS survival
    FROM folded, unnest(generate_series(1, len(out))) AS u(i)
    """


def ewma_control(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    ts_col: str = "ts",
    lam: float = 0.2,
    limit_l: float = 3.0,
) -> DataFrame:
    """EWMA control chart (Roberts, Technometrics 1959) over per-group
    DAILY event counts: the small-persistent-shift detector that
    completes the drift family — CUSUM integrates deviations from a
    fixed mean, Holt tracks trend, the EWMA chart flags the day a
    smoothed statistic escapes its exact time-varying control limits
    z_t outside mu +- L*sigma*sqrt(lam/(2-lam) * (1-(1-lam)^(2t))).

    Recursion: z_t = lam*x_t + (1-lam)*z_{t-1}, z_0 = mu (the process
    target, the standard chart seed). mu and sigma are the per-group
    daily-count mean and SAMPLE standard deviation of the PHASE I
    window — the first ceil(days/2) calendar days (Montgomery,
    "Statistical Quality Control", ch. 4: control limits come from an
    in-control reference period; estimating them from the full series
    lets a late shift inflate sigma and mask itself — measured on this
    very corpus during pre-validation). Both are computed from integer
    sums (n, sum, sum of squares) in ONE identical float expression in
    both engines; (1-lam)^(2t) is carried IN the fold by repeated
    multiplication (never pow(), whose libm rounding may differ
    between engines — the documented portability choice), so the whole
    chart is a sequential float fold in identical IEEE op order (the
    holt_forecast recipe). Calendar gaps are zero-filled (the
    cusum_drift rule). Groups whose Phase I has < 2 days or zero
    variance return NULL limits and never flag.

    Returns (group, day, n_events, ewma, ucl, lcl, violation) with
    floats round(6); violation compares the ROUNDED ewma to the
    ROUNDED limits so the boolean cannot flip across engines.

    Scale shape: one corpus-sized daily count aggregate; the fold runs
    on the tiny groups-x-days frame."""
    from flink_kafka_table_api_spark.caching import tracked_persist

    lm = float(lam)
    e = events.select(
        F.col(group_col).alias("grp"),
        F.to_date(F.col(ts_col)).alias("day"),
    )
    # persisted: span, the calendar's distinct-group side and the fill
    # join all read this tiny groups-x-days aggregate — without the
    # cache each one recomputes the corpus-sized count
    daily = tracked_persist(
        e.groupBy("grp", "day").agg(
            F.count("*").cast("long").alias("c")
        )
    )
    span = daily.agg(F.min("day").alias("__d0"), F.max("day").alias("__d1"))
    calendar = (
        daily.select("grp").distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "grp",
            F.explode(
                F.sequence("__d0", "__d1", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    filled = (
        calendar.join(daily, ["grp", "day"], "left")
        .select("grp", "day", F.coalesce("c", F.lit(0)).alias("c"))
    )
    ser = filled.groupBy("grp").agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("day").alias("day"), F.col("c").alias("c"))
            )
        ).alias("xs"),
    )
    # Phase I reference window: the first ceil(days/2) entries of the
    # ordered series; integer sums, so split/fold order cannot matter
    ph1 = F.slice(
        F.col("xs"), 1, F.ceil(F.size("xs") / 2).cast("int")
    )
    ser = ser.select(
        "grp", "xs",
        F.size(ph1).cast("long").alias("n"),
        F.aggregate(
            ph1, F.lit(0).cast("long"), lambda acc, x: acc + x["c"]
        ).alias("s"),
        F.aggregate(
            ph1, F.lit(0).cast("long"),
            lambda acc, x: acc + x["c"] * x["c"],
        ).alias("ss"),
    )
    mu = F.col("s").cast("double") / F.col("n").cast("double")
    # sample variance from integer sums: (ss - s^2/n) / (n-1)
    var = F.when(
        F.col("n") > 1,
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double")
            / F.col("n").cast("double")
        )
        / (F.col("n") - 1).cast("double"),
    )
    sigma = F.when(var > 0, F.sqrt(var))
    ser = ser.select(
        "grp", "xs", mu.alias("__mu"), sigma.alias("__sigma")
    )
    init = F.expr(
        "CAST(array() AS array<struct<day:date,c:bigint,z:double,"
        "pw:double>>)"
    )
    decay2 = (1.0 - lm) * (1.0 - lm)

    def step(acc, x):
        first = F.size(acc) == 0
        prev_z = F.when(first, F.col("__mu")).otherwise(
            F.element_at(acc, -1)["z"]
        )
        prev_pw = F.when(first, F.lit(1.0)).otherwise(
            F.element_at(acc, -1)["pw"]
        )
        z = F.lit(lm) * x["c"].cast("double") + F.lit(1.0 - lm) * prev_z
        pw = prev_pw * F.lit(decay2)
        return F.concat(
            acc,
            F.array(
                F.struct(
                    x["day"].alias("day"), x["c"].alias("c"),
                    z.alias("z"), pw.alias("pw"),
                )
            ),
        )

    folded = ser.select(
        "grp", "__mu", "__sigma",
        F.aggregate("xs", init, step).alias("out"),
    )
    hw = F.lit(float(limit_l)) * F.col("__sigma") * F.sqrt(
        F.lit(lm / (2.0 - lm))
        * (F.lit(1.0) - F.col("e.pw"))
    )
    out = (
        folded.select("grp", "__mu", "__sigma", F.explode("out").alias("e"))
        .select(
            F.col("grp").alias(group_col),
            F.col("e.day").alias("day"),
            F.col("e.c").alias("n_events"),
            F.round("e.z", 6).alias("ewma"),
            F.round(F.col("__mu") + hw, 6).alias("ucl"),
            F.round(F.col("__mu") - hw, 6).alias("lcl"),
        )
    )
    return out.select(
        "*",
        F.when(
            F.col("ucl").isNotNull(),
            (F.col("ewma") > F.col("ucl")) | (F.col("ewma") < F.col("lcl")),
        ).alias("violation"),
    )


def ewma_control_sql(
    src: str = "events", *, lam: float = 0.2, limit_l: float = 3.0
) -> str:
    """DuckDB oracle for :func:`ewma_control` over ``src`` (a table
    name or parenthesized subquery with events columns): identical
    integer-sum mu/sigma, identical fold carrying (z, pw) through the
    bare-list accumulator (the holt_forecast shape), every float
    literal CAST to DOUBLE (the decimal-literal trap)."""
    lm = float(lam)
    decay2 = (1.0 - lm) * (1.0 - lm)
    return f"""
    WITH daily AS (
      SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM {src} GROUP BY 1, 2
    ),
    span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
    cal AS (
      SELECT g.grp, CAST(u.day AS DATE) AS day
      FROM (SELECT DISTINCT grp FROM daily) g,
           (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM span) u
    ),
    filled AS (
      SELECT cal.grp, cal.day, COALESCE(d.c, 0) AS c
      FROM cal LEFT JOIN daily d ON cal.grp = d.grp AND cal.day = d.day
    ),
    ser0 AS (
      SELECT grp, list({{'day': day, 'c': c}} ORDER BY day) AS xs
      FROM filled GROUP BY grp
    ),
    ser AS (
      -- Phase I window: first ceil(days/2) entries of the ordered
      -- series (integer sums; order-free exactness)
      SELECT grp, xs,
             CAST(len(ph1) AS BIGINT) AS n,
             CAST(list_sum(list_transform(ph1, x -> x.c)) AS BIGINT)
               AS s,
             CAST(list_sum(list_transform(ph1, x -> x.c * x.c))
                  AS BIGINT) AS ss
      FROM (SELECT grp, xs,
                   xs[1:CAST(ceil(len(xs) / 2.0) AS INT)] AS ph1
            FROM ser0)
    ),
    stats AS (
      SELECT grp, xs,
             CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             CASE WHEN n > 1 AND
                       (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                        * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       / CAST(n - 1 AS DOUBLE) > 0
                  THEN sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                             * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                            / CAST(n - 1 AS DOUBLE))
             END AS sigma
      FROM ser
    ),
    folded AS (
      SELECT grp, mu, sigma,
        list_reduce(
          list_transform(xs, x -> [{{
            'day': x.day, 'c': x.c,
            'z': CAST({lm} AS DOUBLE) * CAST(x.c AS DOUBLE)
                 + CAST({1.0 - lm} AS DOUBLE) * mu,
            'pw': CAST({decay2} AS DOUBLE)}}]),
          (acc, e) -> list_concat(acc, [{{
            'day': e[1].day, 'c': e[1].c,
            'z': CAST({lm} AS DOUBLE) * CAST(e[1].c AS DOUBLE)
                 + CAST({1.0 - lm} AS DOUBLE) * acc[len(acc)].z,
            'pw': acc[len(acc)].pw * CAST({decay2} AS DOUBLE)}}])
        ) AS out
      FROM stats
    ),
    rows_ AS (
      SELECT grp, out[i].day AS day, out[i].c AS n_events,
             round(out[i].z, 6) AS ewma,
             round(mu + CAST({float(limit_l)} AS DOUBLE) * sigma
                   * sqrt(CAST({lm / (2.0 - lm)} AS DOUBLE)
                          * (CAST(1.0 AS DOUBLE) - out[i].pw)), 6)
               AS ucl,
             round(mu - CAST({float(limit_l)} AS DOUBLE) * sigma
                   * sqrt(CAST({lm / (2.0 - lm)} AS DOUBLE)
                          * (CAST(1.0 AS DOUBLE) - out[i].pw)), 6)
               AS lcl
      FROM folded, unnest(generate_series(1, len(out))) AS u(i)
    )
    SELECT grp AS event_type, day, n_events, ewma, ucl, lcl,
           CASE WHEN ucl IS NOT NULL
                THEN ewma > ucl OR ewma < lcl END AS violation
    FROM rows_
    """


def mann_kendall(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    ts_col: str = "ts",
    alpha_z: float = 1.959963984540054,
) -> DataFrame:
    """Mann-Kendall monotone-trend test with Sen's slope (Mann 1945,
    Kendall 1975; Sen 1968) over per-group daily event counts — the
    drift family's missing TREND TEST: Holt TRACKS a trend, CUSUM
    flags a level CHANGE, this answers "is there a statistically
    significant monotone drift at all, and how steep" without assuming
    linearity or normality.

    S = sum over day pairs i<j of sign(c_j - c_i) — pure BIGINT.
    var(S) carries the exact tie correction
    [n(n-1)(2n+5) - sum t(t-1)(2t+5)] / 18 (ties over equal COUNT
    values; integer numerator, one float division). z applies the
    standard continuity correction ((S-1)/sd for S>0, (S+1)/sd for
    S<0, 0 at S=0). Sen's slope is the MEDIAN of pairwise slopes
    (c_j - c_i)/(j - i) — every slope a single exact division of
    integers, the median the same linear-interpolated percentile in
    both engines. Groups with >= 2 days but zero variance return NULL
    z/verdict. A corpus spanning a SINGLE calendar day produces NO
    rows at all (not NULL rows): the pairwise-slope join is empty, so
    the inner join back onto the tie table drops every group —
    identically in both engines (round-7 ADVICE: the behavior is
    engine-consistent; this docstring previously promised NULLs).

    Returns (group, n_days, s_stat, var_s_x18, z round(9), trend
    in {'increasing','decreasing','no_trend'}, sens_slope round(9)).
    var_s_x18 is the INTEGER numerator (18*var) so the output stays
    exact.

    Scale shape: one corpus-sized daily count aggregate (calendar-
    filled, the family rule); the pair join is the ordered self-join
    of the per-group DAILY frame — bounded by calendar length squared
    (a decade of days ~ 6.6M pairs per group), keyed on the group so
    it shuffles day rows, never events."""
    from flink_kafka_table_api_spark.caching import tracked_persist

    e = events.select(
        F.col(group_col).alias("grp"),
        F.to_date(F.col(ts_col)).alias("day"),
    )
    daily = tracked_persist(
        e.groupBy("grp", "day").agg(
            F.count("*").cast("long").alias("c")
        )
    )
    span = daily.agg(F.min("day").alias("__d0"), F.max("day").alias("__d1"))
    calendar = (
        daily.select("grp").distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "grp",
            F.explode(
                F.sequence("__d0", "__d1", F.expr("interval 1 day"))
            ).alias("day"),
            "__d0",
        )
    )
    filled = tracked_persist(
        calendar.join(daily, ["grp", "day"], "left")
        .select(
            "grp",
            # day index from the GLOBAL span start (the calendar is
            # grp x global span, so t is the same grid for every group)
            F.datediff("day", "__d0").cast("long").alias("t"),
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    a = filled.select("grp", F.col("t").alias("ti"), F.col("c").alias("ci"))
    b = filled.select("grp", F.col("t").alias("tj"), F.col("c").alias("cj"))
    pairs = a.join(b, "grp").filter(F.col("ti") < F.col("tj"))
    s_and_slope = pairs.groupBy("grp").agg(
        F.sum(
            F.signum((F.col("cj") - F.col("ci")).cast("double"))
            .cast("long")
        ).cast("long").alias("s_stat"),
        F.round(
            F.percentile(
                (F.col("cj") - F.col("ci")).cast("double")
                / (F.col("tj") - F.col("ti")).cast("double"),
                F.lit(0.5),
            ),
            9,
        ).alias("sens_slope"),
    )
    ties = (
        filled.groupBy("grp", "c")
        .agg(F.count("*").cast("long").alias("tt"))
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("__nvals"),
            F.sum("tt").cast("long").alias("n_days"),
            F.sum(
                F.col("tt") * (F.col("tt") - 1) * (2 * F.col("tt") + 5)
            ).cast("long").alias("__tie_sum"),
        )
    )
    n = F.col("n_days")
    var18 = (
        n * (n - 1) * (2 * n + 5) - F.col("__tie_sum")
    ).cast("long")
    sd = F.sqrt(var18.cast("double") / F.lit(18.0))
    s = F.col("s_stat").cast("double")
    z = F.when(
        var18 > 0,
        F.when(s > 0, (s - 1) / sd)
        .when(s < 0, (s + 1) / sd)
        .otherwise(F.lit(0.0)),
    )
    zr = F.round(z, 9)
    return (
        s_and_slope.join(ties, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_days",
            "s_stat",
            var18.alias("var_s_x18"),
            zr.alias("z"),
            F.when(zr > F.lit(alpha_z), F.lit("increasing"))
            .when(zr < F.lit(-alpha_z), F.lit("decreasing"))
            .when(zr.isNotNull(), F.lit("no_trend"))
            .alias("trend"),
            "sens_slope",
        )
    )


def mann_kendall_sql(
    src: str = "events", *, alpha_z: float = 1.959963984540054
) -> str:
    """DuckDB replay of :func:`mann_kendall` over ``src``: identical
    integer S / tie numerator, identical continuity-corrected z,
    quantile_cont median of the identical pairwise slope set."""
    return f"""
    WITH daily AS (
      SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM {src} GROUP BY 1, 2
    ),
    span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
    cal AS (
      SELECT g.grp, CAST(u.day AS DATE) AS day
      FROM (SELECT DISTINCT grp FROM daily) g,
           (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM span) u
    ),
    filled AS (
      SELECT cal.grp,
             CAST(datediff('day', s.d0, cal.day) AS BIGINT) AS t,
             COALESCE(d.c, 0) AS c
      FROM cal
      CROSS JOIN span s
      LEFT JOIN daily d ON cal.grp = d.grp AND cal.day = d.day
    ),
    pairs AS (
      SELECT a.grp,
             CAST(sign(CAST(b.c - a.c AS DOUBLE)) AS BIGINT) AS sg,
             CAST(b.c - a.c AS DOUBLE) / CAST(b.t - a.t AS DOUBLE)
               AS slope
      FROM filled a JOIN filled b ON a.grp = b.grp AND a.t < b.t
    ),
    s_slope AS (
      SELECT grp, CAST(SUM(sg) AS BIGINT) AS s_stat,
             round(quantile_cont(slope, 0.5), 9) AS sens_slope
      FROM pairs GROUP BY grp
    ),
    ties AS (
      SELECT grp,
             CAST(SUM(tt) AS BIGINT) AS n_days,
             CAST(SUM(tt * (tt - 1) * (2 * tt + 5)) AS BIGINT)
               AS tie_sum
      FROM (SELECT grp, c, CAST(COUNT(*) AS BIGINT) AS tt
            FROM filled GROUP BY grp, c)
      GROUP BY grp
    ),
    calc AS (
      SELECT s.grp, t.n_days, s.s_stat,
             CAST(t.n_days * (t.n_days - 1) * (2 * t.n_days + 5)
                  - t.tie_sum AS BIGINT) AS var_s_x18,
             s.sens_slope
      FROM s_slope s JOIN ties t ON s.grp = t.grp
    )
    SELECT grp AS event_type, n_days, s_stat, var_s_x18,
           round(CASE WHEN var_s_x18 > 0 THEN
             CASE WHEN s_stat > 0 THEN
                    (CAST(s_stat AS DOUBLE) - 1)
                    / sqrt(CAST(var_s_x18 AS DOUBLE)
                           / CAST(18.0 AS DOUBLE))
                  WHEN s_stat < 0 THEN
                    (CAST(s_stat AS DOUBLE) + 1)
                    / sqrt(CAST(var_s_x18 AS DOUBLE)
                           / CAST(18.0 AS DOUBLE))
                  ELSE CAST(0.0 AS DOUBLE) END
           END, 9) AS z,
           CASE WHEN var_s_x18 > 0 THEN
             CASE WHEN round(CASE WHEN s_stat > 0 THEN
                      (CAST(s_stat AS DOUBLE) - 1)
                      / sqrt(CAST(var_s_x18 AS DOUBLE)
                             / CAST(18.0 AS DOUBLE))
                    WHEN s_stat < 0 THEN
                      (CAST(s_stat AS DOUBLE) + 1)
                      / sqrt(CAST(var_s_x18 AS DOUBLE)
                             / CAST(18.0 AS DOUBLE))
                    ELSE CAST(0.0 AS DOUBLE) END, 9) > {alpha_z}
                    THEN 'increasing'
                  WHEN round(CASE WHEN s_stat > 0 THEN
                      (CAST(s_stat AS DOUBLE) - 1)
                      / sqrt(CAST(var_s_x18 AS DOUBLE)
                             / CAST(18.0 AS DOUBLE))
                    WHEN s_stat < 0 THEN
                      (CAST(s_stat AS DOUBLE) + 1)
                      / sqrt(CAST(var_s_x18 AS DOUBLE)
                             / CAST(18.0 AS DOUBLE))
                    ELSE CAST(0.0 AS DOUBLE) END, 9) < -{alpha_z}
                    THEN 'decreasing'
                  ELSE 'no_trend' END
           END AS trend,
           sens_slope
    FROM calc
    """
