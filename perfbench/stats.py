"""Pure helpers: order statistics and result fingerprints."""

from __future__ import annotations

import hashlib
import math
import statistics

# Tail percentiles worth reporting next to the median, lowest first.
_TAILS = (90.0, 95.0, 99.0, 99.9)


def median(xs):
    """Median of ``xs``, or ``None`` when empty."""
    return statistics.median(xs) if xs else None


def mean(xs):
    return sum(xs) / len(xs) if xs else None


def supported_percentile(n: int, beyond: int = 10) -> float | None:
    """Highest tail percentile with at least ``beyond`` of ``n`` samples above it.

    A p-th percentile of n samples has n * (1 - p/100) samples beyond it;
    with fewer than ``beyond`` of them it reads a handful of outliers, so
    only the median is reported (``None``)."""
    best = None
    for p in _TAILS:
        if n * (1.0 - p / 100.0) >= beyond - 1e-9:
            best = p
    return best


def canon_value(v) -> str:
    """One result cell as text: floats as ``%.9f``, NULL as ``\\N``."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # -0.0 and 0.0 print alike
        return "%.9f" % v
    return str(v)


def fingerprint(columns, rows) -> str:
    """Order-independent md5 of a result.

    Columns are put in name order and every row is canonicalized cell by
    cell, then rows are sorted, so the same relation gives the same
    fingerprint whatever engine, column order or row order produced it."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e")
        h.update(line.encode())
    return h.hexdigest()
