"""Output checks that run outside the timed operations.

Each check returns a list of problems; an empty list means the output
is correct. They compare plain Python data, so the tests can feed them
hand-made good and bad outputs without Spark.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from collections import Counter


def count_problems(
    what: str, expected: dict[tuple, int], actual: dict[tuple, int]
) -> list[str]:
    """Compare per-key event counts, e.g. per (source, batch)."""
    problems = []
    for key in sorted(set(expected) | set(actual), key=str):
        e, a = expected.get(key, 0), actual.get(key, 0)
        if e != a:
            problems.append(f"{what} {key}: expected {e}, found {a}")
    return problems


def _norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v + 0.0:.9g}"  # folds -0.0 and repr noise below the queries' rounding
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.strftime("%Y-%m-%d") + " 00:00:00.000000"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _lines(columns: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)


def digest(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Row count and an order-insensitive digest of a result: columns
    sorted by name, cells normalized, rows sorted before hashing."""
    lines = _lines(columns, rows)
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return len(rows), h.hexdigest()


def result_problems(
    name: str,
    columns: list[str],
    rows: list[tuple],
    oracle_columns: list[str],
    oracle_rows: list[tuple],
) -> list[str]:
    """A query result against its oracle: same column names, same row
    count, same order-insensitive digest."""
    if sorted(columns) != sorted(oracle_columns):
        return [f"{name}: columns {sorted(columns)} != oracle {sorted(oracle_columns)}"]
    n, d = digest(columns, rows)
    on, od = digest(oracle_columns, oracle_rows)
    if n != on:
        return [f"{name}: {n} rows, oracle has {on}"]
    if d != od:
        only = Counter(_lines(columns, rows)) - Counter(_lines(oracle_columns, oracle_rows))
        return [f"{name}: digest differs from oracle; e.g. {list(only)[:2]}"]
    return []
