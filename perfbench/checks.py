"""Output checks, computed without the package under test.

Query outputs are compared with the DuckDB answer to the registry's
oracle SQL by row count, column set and an order-insensitive value
hash. Every check returns None when the output is right and a one-line reason
when it is not; the caller counts a reason as a failed operation.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from decimal import Decimal


def canon_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def signature(cols: list[str], rows) -> dict:
    """Row count, sorted column names, and a hash of the sorted rows
    with each row's cells ordered by column name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return {"rows": len(lines), "cols": sorted(cols), "hash": digest}


def check_frame(cols: list[str], rows, expected: dict) -> str | None:
    got = signature(cols, rows)
    for key in ("rows", "cols", "hash"):
        if got[key] != expected[key]:
            return f"{key} differs: got {got[key]!r}, expected {expected[key]!r}"
    return None

