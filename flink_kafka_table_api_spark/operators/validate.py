"""Constraint validation (SURVEY.md §7.4 #4).

Flink sinks REJECT rows violating NOT NULL columns declared in the sink DDL
(reference TransactionProcessor.java:135-142 declares every output column
NOT NULL); Spark writes them silently. This operator closes the parity gap
explicitly: route rows through ``require_not_null`` before a sink to get
fail-fast (reference behavior) or quarantine semantics.

Both modes are single narrow passes — no shuffle, no collect.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class ConstraintViolation(ValueError):
    pass


def violations(df: DataFrame, not_null: Sequence[str]) -> DataFrame:
    """Rows violating the NOT NULL constraints (empty when data is clean)."""
    cond = None
    for c in not_null:
        clause = F.col(c).isNull()
        cond = clause if cond is None else (cond | clause)
    return df.filter(cond) if cond is not None else df.limit(0)


def require_not_null(
    df: DataFrame, not_null: Sequence[str], *, mode: str = "fail"
) -> DataFrame:
    """``mode='fail'``: raise on the first violating row (Flink sink parity).
    ``mode='drop'``: filter violations out (quarantine pattern — pair with
    ``violations()`` to route them to a dead-letter sink)."""
    if mode == "drop":
        out = df
        for c in not_null:
            out = out.filter(F.col(c).isNotNull())
        return out
    if mode == "fail":
        bad = violations(df, not_null).limit(1).collect()
        if bad:
            raise ConstraintViolation(
                f"NOT NULL violation in columns {list(not_null)}: {bad[0]}"
            )
        return df
    raise ValueError(f"unknown mode {mode!r}")


# Benford first-digit probabilities log10(1 + 1/d), computed ONCE in
# Python and embedded as rounded literals in BOTH engines — the recipe
# that removes libm log10 divergence from the parity surface entirely.
_BENFORD_P = {d: round(__import__("math").log10(1.0 + 1.0 / d), 6)
              for d in range(1, 10)}


def benford_audit(
    df: DataFrame,
    value_col: str,
    *,
    unit: int = 100,
    tolerance: float = 0.02,
) -> DataFrame:
    """Benford's-law first-significant-digit conformance audit over a
    positive numeric column (Benford '38 / Hill '95 — the standard
    fabricated-data / corrupted-feed screen for multiplicative
    quantities like prices and transaction amounts). Returns one row
    per digit 1-9: observed count and share, the Benford expectation,
    the Pearson chi-square term, and a per-digit tolerance verdict.

    Determinism contract: values are quantized to integer ``unit``-ths
    first (cents by default) and the leading digit is taken from the
    INTEGER's decimal string — multiplying by a power of 10 preserves
    the leading significant digit, integer formatting is engine-exact,
    and no float log10/pow touches data (rounding at the quantization
    boundary may carry, e.g. 0.0999 -> 10 cents -> digit 1; that edge
    is part of the contract). Quantization is a TRY_CAST in both
    engines: values whose unit-quantization exceeds BIGINT (or is
    NaN/inf) are excluded like non-positives rather than crashing the
    audit under ANSI mode — a data-quality screen must survive the
    one corrupt outlier it exists to find. Expected shares are driver-computed
    literals (_BENFORD_P), so the only floats are divisions of exact
    integers and arithmetic on those literals — identical IEEE ops in
    both engines, rounded at the repo's standard boundaries.

    Scale shape: one narrow codegen pass (quantize + substring) into a
    9-cell hash aggregate with map-side combine; the digit spine join
    is a 9-row broadcast. Nothing downstream of the scan exceeds 9
    rows, so the audit costs one corpus read at any scale."""
    spark = df.sparkSession
    v = F.round(F.col(value_col) * unit).try_cast("long")
    obs = (
        df.select(v.alias("__v"))
        .where(F.col("__v") > 0)
        .select(
            F.substring(F.col("__v").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n_obs"))
    )
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    p_ben = F.element_at(
        F.create_map(
            *[F.lit(x) for d in range(1, 10) for x in (d, _BENFORD_P[d])]
        ),
        F.col("digit"),
    )
    w = Window.partitionBy()
    # an EMPTY (or all-filtered) input leaves the 9-row spine with
    # total 0 — shares are NULL then, never a divide-by-zero (ANSI
    # mode throws; found by the empty-input hardening pass)
    total = F.sum("n_obs").over(w)
    share = F.when(total > 0, F.col("n_obs") / total)
    return (
        spine.join(obs, "digit", "left")
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
            p_ben.alias("p_benford"),
        )
        .select(
            "digit",
            "n_obs",
            F.round(share, 6).alias("p_obs"),
            "p_benford",
            F.round(
                F.when(
                    total > 0,
                    F.pow(
                        F.col("n_obs") - total * F.col("p_benford"),
                        F.lit(2.0),
                    )
                    / (total * F.col("p_benford")),
                ),
                6,
            ).alias("chi2_term"),
            (
                F.abs(F.round(share, 6) - F.col("p_benford"))
                <= F.lit(tolerance)
            ).alias("within_tolerance"),
        )
    )


def benford_audit_sql(
    table: str,
    value_col: str,
    *,
    unit: int = 100,
    tolerance: float = 0.02,
) -> str:
    """DuckDB replay of :func:`benford_audit` (same quantization, the
    same driver-computed Benford literals, same rounding boundaries).
    DuckDB round() on DOUBLE is multiply-round-divide like Spark's —
    and every input here is an exact integer or a 6-rounded literal,
    inside the range where that recipe is engine-identical."""
    cases = " ".join(
        f"WHEN {d} THEN {_BENFORD_P[d]!r}" for d in range(1, 10)
    )
    return f"""
    WITH q AS (
      SELECT CAST(substr(CAST(TRY_CAST(round({value_col} * {unit}) AS BIGINT)
                   AS VARCHAR), 1, 1) AS INT) AS digit
      FROM {table}
      WHERE TRY_CAST(round({value_col} * {unit}) AS BIGINT) > 0
    ),
    obs AS (SELECT digit, COUNT(*) AS n_obs FROM q GROUP BY digit),
    spine AS (
      SELECT CAST(unnest(generate_series(1, 9)) AS INT) AS digit
    ),
    j AS (
      SELECT spine.digit,
             CAST(COALESCE(obs.n_obs, 0) AS BIGINT) AS n_obs,
             CAST(CASE spine.digit {cases} END AS DOUBLE) AS p_benford
      FROM spine LEFT JOIN obs ON obs.digit = spine.digit
    )
    SELECT digit, n_obs,
           round(CASE WHEN SUM(n_obs) OVER () > 0 THEN
             CAST(n_obs AS DOUBLE) / SUM(n_obs) OVER () END, 6) AS p_obs,
           p_benford,
           round(CASE WHEN SUM(n_obs) OVER () > 0 THEN
             pow(n_obs - SUM(n_obs) OVER () * p_benford, 2.0)
             / (SUM(n_obs) OVER () * p_benford) END, 6) AS chi2_term,
           abs(round(CASE WHEN SUM(n_obs) OVER () > 0 THEN
             CAST(n_obs AS DOUBLE) / SUM(n_obs) OVER () END, 6)
               - p_benford) <= {tolerance} AS within_tolerance
    FROM j
    """


def k_anonymity_audit(
    df: DataFrame,
    qi_cols: Sequence[str],
    sensitive_col: str,
    *,
    thresholds: Sequence[int] = (2, 5, 10, 25),
) -> DataFrame:
    """k-anonymity / l-diversity re-identification audit (Sweeney '02;
    Machanavajjhala '07) over a quasi-identifier (QI) column set: rows
    sharing one QI combination form an equivalence class, and a class
    of size < k means its members are re-identifiable among fewer than
    k candidates. Returns ONE row per requested threshold k:

        k, n_classes_below (classes with size < k), rows_below,
        pct_rows_below, plus the threshold-independent corpus facts
        (n_classes, n_rows, min_class_size — the dataset's actual
        k-anonymity — and min_l_diversity — the smallest number of
        distinct sensitive values inside any class; 1 means an
        attacker who locates the class learns the sensitive value
        outright even at large k).

    The audit is the release gate a training-data pipeline runs before
    shipping user-derived tables: it quantifies how much generalization
    (coarser QI buckets) or suppression (dropping small classes) the
    release still needs. NULL QI values form their own class (groupBy
    semantics, identical in both engines).

    Determinism: every output is an exact integer except
    pct_rows_below, a single integer/integer division rounded to 9.

    Scale shape: ONE corpus-sized aggregate keyed by the QI columns
    (map-side partial combine; class count + exact sensitive-distinct
    per class), then everything downstream operates on the
    |QI-cardinality|-sized class table: a broadcast join against the
    literal threshold spine and a |thresholds|-cell aggregate. No
    second corpus scan, no window over the corpus."""
    spark = df.sparkSession
    classes = (
        df.groupBy(*[F.col(c) for c in qi_cols])
        .agg(
            F.count("*").alias("__sz"),
            F.countDistinct(F.col(sensitive_col)).alias("__ldiv"),
        )
    )
    ks = spark.createDataFrame(
        [(int(k),) for k in sorted(thresholds)], "k long"
    )
    return (
        classes.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("__sz") < F.col("k"), 1).otherwise(0))
            .cast("long").alias("n_classes_below"),
            F.sum(F.when(F.col("__sz") < F.col("k"), F.col("__sz"))
                  .otherwise(0)).cast("long").alias("rows_below"),
            F.count("*").cast("long").alias("n_classes"),
            F.sum("__sz").cast("long").alias("n_rows"),
            F.min("__sz").cast("long").alias("min_class_size"),
            F.min("__ldiv").cast("long").alias("min_l_diversity"),
        )
        .select(
            "k", "n_classes_below", "rows_below",
            F.round(
                F.col("rows_below") / F.col("n_rows"), 9
            ).alias("pct_rows_below"),
            "n_classes", "n_rows", "min_class_size", "min_l_diversity",
        )
    )


def k_anonymity_audit_sql(
    table: str,
    qi_cols: Sequence[str],
    sensitive_col: str,
    *,
    thresholds: Sequence[int] = (2, 5, 10, 25),
) -> str:
    """DuckDB replay of :func:`k_anonymity_audit` (same class
    aggregate, same threshold spine, same share)."""
    qi = ", ".join(qi_cols)
    ks = ", ".join(f"({int(k)})" for k in sorted(thresholds))
    return f"""
    WITH classes AS (
      SELECT COUNT(*) AS sz, COUNT(DISTINCT {sensitive_col}) AS ldiv
      FROM {table} GROUP BY {qi}
    ),
    ks(k) AS (VALUES {ks})
    SELECT CAST(k AS BIGINT) AS k,
           CAST(SUM(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_classes_below,
           CAST(SUM(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
             AS rows_below,
           round(CAST(SUM(CASE WHEN sz < k THEN sz ELSE 0 END) AS DOUBLE)
                 / SUM(sz), 9) AS pct_rows_below,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(sz) AS BIGINT) AS n_rows,
           CAST(MIN(sz) AS BIGINT) AS min_class_size,
           CAST(MIN(ldiv) AS BIGINT) AS min_l_diversity
    FROM classes CROSS JOIN ks
    GROUP BY k
    """
