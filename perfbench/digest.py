"""Order-insensitive result digests, comparable between Spark and DuckDB.

Cells are normalised the way the repository's differential tests compare
them: columns ordered by name, floats by ``repr(round(v, 9))``,
timestamps to microseconds, dates in ISO form, arrays element-wise,
bytes in hex. Integral decimals and integers read the same, so an exact
integer sum compares equal whichever engine typed it as DECIMAL."""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from decimal import Decimal


def _cell(v):
    if v is None:
        return "None"
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, Decimal):
        return str(int(v)) if v == v.to_integral_value() else str(v.normalize())
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}" for k, x in sorted(v.items(), key=str)) + "}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return repr(v)


def digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, sha256 over the sorted normalised rows)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return len(lines), h.hexdigest()
