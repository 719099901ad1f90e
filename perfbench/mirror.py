"""The digest the benchmark matches written reports against their DuckDB
oracles with: :func:`rows_digest` hashes a result set order-insensitively,
with numbers (and numeric text, as read back from a CSV report) compared to
six decimals.
"""

from __future__ import annotations

import hashlib
from decimal import Decimal


def _norm_value(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, str):
        # a number read back from CSV text compares by value
        try:
            v = float(v)
        except ValueError:
            return v
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float)):
        return round(float(v), 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    return str(v)


def rows_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, sha256) of a result set, independent of row and column
    order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(
        (repr(tuple(_norm_value(r[i]) for i in order)) for r in rows)
    )
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in norm:
        h.update(line.encode())
    return len(norm), h.hexdigest()
