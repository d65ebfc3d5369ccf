"""Cross-engine result comparison — the driver's value-hash contract,
shared by tools/check_contract.py and tests/test_registry_contract.py so
both hash results identically (order-insensitive, column-name-sorted, floats at
9 significant decimals AFTER the queries' own explicit rounding)."""

from __future__ import annotations

import hashlib
import math


def norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def rows_sorted(rows, colnames) -> list[str]:
    """The hash's pre-image lines — for printing diffs."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
