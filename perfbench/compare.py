"""Order-insensitive result comparison with a rounding tolerance.

Spark and DuckDB sum floating-point columns in different orders, so a
``round(sum(x), 2)`` may differ by one quantum; floats are equal here
when they agree within 0.011 or a 1e-9 relative error.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math


def _cell(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def _key(v):
    """Sort key that tolerates float jitter and mixed None."""
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, str(v))
    if isinstance(v, (int, float)):
        return (2, round(float(v), 1))
    return (3, str(v))


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            return False
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= max(0.011, 1e-9 * abs(a))
    return a == b


def compare_rows(scols, srows, dcols, drows) -> tuple[bool, str]:
    """(equal?, reason) for two result sets, columns matched by name."""
    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
        return False, f"columns {sorted(scols)} != {sorted(dcols)}"
    if len(srows) != len(drows):
        return False, f"{len(srows)} rows != {len(drows)} expected"
    order = sorted(range(len(scols)), key=lambda i: scols[i].lower())
    dpos = {c.lower(): i for i, c in enumerate(dcols)}
    dorder = [dpos[scols[i].lower()] for i in order]
    s = sorted(([_cell(r[i]) for i in order] for r in srows),
               key=lambda r: [_key(v) for v in r])
    d = sorted(([_cell(r[i]) for i in dorder] for r in drows),
               key=lambda r: [_key(v) for v in r])
    for a, b in zip(s, d):
        if not all(_same(x, y) for x, y in zip(a, b)):
            return False, f"row {a} != expected {b}"
    return True, ""
