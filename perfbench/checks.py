"""Result digests and summary statistics, free of Spark so they can be
self-tested on their own."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

# Floats compare at this many significant digits: partition order
# changes the last bits of float sums, and engines sum in other orders.
SIG_DIGITS = 6


def normalize(v):
    """One value in canonical, engine-independent form."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        r = float(f"{f:.{SIG_DIGITS}g}")
        return 0.0 if r == 0 else r
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return v.isoformat()[:26]
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), normalize(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # a Spark Row used as a struct
        return normalize(v.asDict(recursive=False))
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    return v


def canonical_rows(columns: list[str], rows) -> list[str]:
    """Rows with columns sorted by name and values normalized, as sorted
    strings, so row order and column order do not matter."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(repr(tuple(normalize(r[i]) for i in order)) for r in rows)


def digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: column names (sorted) and
    the canonical rows."""
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in canonical_rows(columns, rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:32]


PERCENTILES = (50.0, 75.0, 90.0, 99.0, 99.9)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest of ``PERCENTILES`` that leaves at least ``min_beyond``
    of ``n`` samples above it; None when even the median does not."""
    best = None
    for p in PERCENTILES:
        per_mille = round(p * 10)  # exact integer test: 100 * 0.1 < 10 in floats
        if n * (1000 - per_mille) >= min_beyond * 1000:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile of a non-empty sample."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)
