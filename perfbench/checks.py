"""Output checks: order-insensitive value hashes of query results and
row-set comparison of the incremental Results store."""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
from decimal import Decimal

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def canon(v):
    """A cell rendered so that both engines' fp noise below the registry's
    rounding quantum disappears, and types print one way."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): canon(x) for k, x in sorted(v.items())}
    return v


def canon_rows(columns, rows) -> list[str]:
    """Rows with columns in name order, each as one JSON string, sorted."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(json.dumps([canon(r[i]) for i in idx]) for r in rows)


def value_hash(columns, rows) -> str:
    h = hashlib.sha256(json.dumps(sorted(columns)).encode())
    for line in canon_rows(columns, rows):
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()[:32]}"


def load_expected() -> dict[str, str]:
    with open(EXPECTED_PATH) as f:
        return json.load(f)
