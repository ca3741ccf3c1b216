"""Result checks shared by the benchmark and the pinning script.

A result is reduced to its row count and an order-insensitive value
hash: columns are ordered by name, every value is normalised the way
the engine's DuckDB oracles are compared (floats rounded to 9
decimal places, timestamps as naive ISO strings), rows are sorted, and the
sorted rows are hashed with SHA-256.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
# Scale factors with pinned results: measurement, then self-check.
SCALES = (0.1, 0.001)


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, value hash) of a result given as column names and
    row tuples in that column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return len(lines), h.hexdigest()


def load_expected(sf: float) -> dict:
    """Pinned {query: {"rows", "hash"}} for the data at ``sf``."""
    with open(EXPECTED_PATH) as f:
        return json.load(f)["sf"][f"{sf:g}"]
