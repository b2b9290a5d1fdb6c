"""Percentiles under the benchmark's reporting rule.

A timing is reported as its median and as tail percentiles; a percentile q
is reported only when the sample has at least MIN_BEYOND samples beyond it,
so p90 needs 100 samples and p99 needs 1,000. A run whose sample is too
small to support a percentile it must report fails instead of printing a
number that is really the maximum.
"""

from __future__ import annotations

import numpy as np

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def supported(n: int, q: float) -> bool:
    """True when n samples leave at least MIN_BEYOND beyond percentile q."""
    return n * (100.0 - q) >= MIN_BEYOND * 100.0 - 1e-9


def percentile(values, q: float, weights=None) -> float:
    """Percentile q (0-100) with linear interpolation. ``weights`` repeats
    each value that many times (one sample per event of a batch)."""
    v = np.asarray(values, dtype=np.float64)
    if weights is not None:
        v = np.repeat(v, np.asarray(weights, dtype=np.int64))
    if not supported(len(v), q):
        raise TooFewSamples(f"p{q:g} needs {int(np.ceil(MIN_BEYOND * 100 / (100 - q)))}"
                            f" samples, have {len(v)}")
    return float(np.percentile(v, q))


def median(values) -> float:
    v = np.asarray(values, dtype=np.float64)
    if len(v) == 0:
        raise TooFewSamples("median of no samples")
    return float(np.median(v))


def quantile_or_nan(values, q: float) -> float:
    """For per-layer figures: the interpolated percentile of whatever was
    sampled (NaN when empty), without the reporting rule."""
    v = np.asarray(values, dtype=np.float64)
    return float(np.percentile(v, q)) if len(v) else float("nan")
