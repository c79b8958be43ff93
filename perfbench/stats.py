"""Percentiles, the tail-percentile rule and order-free value hashes."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

#: candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (NumPy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int) -> float | None:
    """The highest percentile of TAIL_LADDER with at least MIN_BEYOND of
    ``n`` samples beyond it, or None when even the median lacks them."""
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 9) >= MIN_BEYOND:
            return p
    return None


def _cell(v) -> str:
    """Engine-neutral text of one value: Spark's Row/Decimal/datetime and
    DuckDB's tuple/dict/Decimal forms of the same value render alike."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return repr(round(float(v), 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if hasattr(v, "asDict"):  # a Spark struct value arrives as a Row
        v = v.asDict()
    if isinstance(v, dict):  # DuckDB structs and both engines' maps
        return "{" + ",".join(f"{k}={_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows, cols) -> str:
    """Hash of a result as a multiset of rows, with columns taken in name
    order: row order and column order do not change it."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1e".join(sorted(cols)).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()[:16]
