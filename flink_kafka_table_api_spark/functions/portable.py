"""Engine-portable deterministic primitives.

The driver's correctness gate hash-compares our Spark results against DuckDB
running equivalent SQL on the same parquet. Two classes of nondeterminism can
break that even when the semantics are right:

1. engine-specific hash functions (Spark xxhash64 vs DuckDB murmur `hash()`),
2. floating-point aggregation order (parallel double sums).

This module defines primitives with IDENTICAL results in both engines:

- ``portable_hash64``: md5-based 60-bit integer hash. Spark:
  ``conv(substring(md5(x), 1, 15), 16, 10)`` cast to long; DuckDB:
  ``('0x' || substr(md5(x), 1, 15))::BIGINT``. 15 hex digits = 60 bits,
  always fits a signed 64-bit int in both engines.
- ``dec_sum``: sums through DECIMAL(25,4) (exact integer arithmetic — no
  float ordering sensitivity) then casts the final value to DOUBLE. Used for
  every money/quantity aggregate the oracle checks.

Inside the engine's own hot paths (MinHash at 100 TB, shuffle salting) we use
Spark's native ``xxhash64`` instead — one JVM codegen'd instruction vs an md5
— portability only matters where an oracle comparison exists.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: the MinHash permutation family works mod this so
# that (h % M) * a never exceeds int64 in EITHER engine (DuckDB raises on
# int64 overflow; Spark wraps silently — both must stay in range to agree).
MINHASH_MOD = 2147483647  # 2^31 - 1
MINHASH_PRIME = 2305843009213693951  # 2^61 - 1 (base-hash range cap, fast path)


def portable_hash64(col: Column | str) -> Column:
    """60-bit deterministic hash identical in Spark and DuckDB (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def portable_hash64_sql(expr: str) -> str:
    """DuckDB rendering of :func:`portable_hash64` over SQL expression *expr*."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def hash_uniform(salt: str, col: Column, modulus: int) -> Column:
    """The engine's ONE deterministic sampling uniform:
    pmod(portable_hash64(salt || CAST(col AS STRING)), modulus).
    Callers own their salt string VERBATIM (including any separator
    character) because oracle SQL replays the concatenation
    byte-for-byte — centralizing the construction here keeps new
    samplers from drifting into a subtly different recipe."""
    return F.pmod(
        portable_hash64(F.concat(F.lit(salt), col.cast("string"))),
        F.lit(modulus),
    )


def minhash_perm(h: Column, a: int, b: int) -> Column:
    """One member of the MinHash permutation family over a base hash column.
    Folding to 31 bits first keeps a*h within int64 (see MINHASH_MOD note)."""
    return ((h % F.lit(MINHASH_MOD)) * F.lit(a) + F.lit(b)) % F.lit(MINHASH_MOD)


def minhash_perm_sql(h_expr: str, a: int, b: int) -> str:
    return f"(((({h_expr}) % {MINHASH_MOD}) * {a} + {b}) % {MINHASH_MOD})"


def spark_round6_sql(expr: str) -> str:
    """DuckDB replay of Spark's F.round(x, 6) on a DOUBLE.

    Spark rounds the double's SHORTEST decimal representation
    (BigDecimal.valueOf = new BigDecimal(Double.toString(d)), HALF_UP);
    DuckDB's round(DOUBLE, 6) rounds the EXACT binary expansion. On a
    repr-boundary value the two disagree: 66.1600125 is stored as
    66.16001249999999345..., which Spark rounds UP to 66.160013 (the
    repr ends in ...5) and DuckDB rounds DOWN (the exact value is below
    the boundary) — one cell of holt_forecast at sf0.01, found by sf0.01
    parity. CAST(x AS VARCHAR) in DuckDB prints the same
    shortest round-trip repr Java's Double.toString produces; DECIMAL
    round is exact HALF_UP (away from zero, like Java's) — so this
    chain reproduces Spark's result bit-for-bit on every finite double.
    NULL propagates; NaN/Inf would fail the DECIMAL cast (use only on
    finite-valued columns)."""
    return (
        f"CAST(round(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(38,18)), 6) "
        "AS DOUBLE)"
    )


# Scale 6 matters: testdata money columns have <=2 decimals, so 2-3-factor
# products have <=6 exact decimals — at scale 6 the double->decimal cast
# never lands on a rounding boundary (scale 4 DID, and Spark's HALF_UP vs
# DuckDB's banker-rounding disagreed in the 4th decimal).
DEC = "DECIMAL(25,6)"


def dec_sum(col: Column | str, alias: str) -> Column:
    """Order-insensitive double SUM: exact decimal accumulation, double out."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def dec_sum_sql(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS {DEC})) AS DOUBLE) AS {alias}"


def dec_avg(col: Column | str, alias: str) -> Column:
    """AVG via exact decimal sum divided (in double space) by exact count.
    Double division of identical operands is identical IEEE in both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def dec_avg_sql(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS {DEC})) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )
