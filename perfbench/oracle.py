"""Exact answers from DuckDB, independent of ddspark, and the answer check.

The quantile rule is the reference DDSketch's lower rank:
``sorted(values)[int(q * (n - 1))]`` per group, with NULL and NaN values
dropped (SQL aggregate semantics, as ddspark does).  A sketch estimate is
correct when ``|est - exact| <= alpha * |exact| + 1e-15``; count, min and
max must match exactly and sum to a relative 1e-9 (summation order differs).
"""

from __future__ import annotations

import math

import duckdb

ABS_EPS = 1e-15
SUM_RTOL = 1e-9


def quantile_label(q: float) -> str:
    """Output column name ddspark gives quantile ``q`` (0.5 -> p50, 0.999 -> p99_9)."""
    return "p" + f"{q * 100:g}".replace(".", "_")


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads=4")
    return con


def exact(con, relation: str, by: list[str], value: str, qs: list[float]) -> dict:
    """``{group key tuple: [count, sum, min, max, [exact quantile per q]]}`` over
    ``value`` of the SQL ``relation`` grouped by ``by`` (the empty list is one
    global group)."""
    cols = "".join(f"{c}, " for c in by)
    group = f"GROUP BY {', '.join(by)}" if by else ""
    sql = f"""
        WITH src AS (SELECT {cols}CAST({value} AS DOUBLE) AS v FROM ({relation})),
        g AS (
            SELECT {cols}count(*) AS n, sum(v) AS s, min(v) AS mn, max(v) AS mx,
                   list_sort(list(v)) AS xs
            FROM src WHERE v IS NOT NULL AND NOT isnan(v) {group}
        )
        SELECT {cols}n, s, mn, mx,
               list_transform(?::DOUBLE[], q -> xs[CAST(floor(q * (n - 1)) AS BIGINT) + 1])
        FROM g
    """
    out = {}
    for row in con.execute(sql, [list(qs)]).fetchall():
        k = len(by)
        n, s, mn, mx, qv = row[k:]
        out[tuple(row[:k])] = [n, s, mn, mx, list(qv)]
    return out


def to_json(answers: dict) -> list:
    return [[list(k), v] for k, v in answers.items()]


def from_json(items: list) -> dict:
    return {tuple(k): v for k, v in items}


class Mismatch(Exception):
    """A result that disagrees with the exact answer."""


def check(rows: list[dict], expected: dict, by: list[str], qs: list[float],
          alpha: float, stats: bool = True) -> float:
    """Raise :class:`Mismatch` unless ``rows`` answer ``expected``; return the
    largest relative quantile error seen.

    ``expected`` holds the exact answers for exactly ``qs``, in order (see
    :func:`select`).  ``stats=False`` skips sum/min/max for results that do
    not carry them.
    """
    got = {tuple(r[c] for c in by): r for r in rows}
    if set(got) != set(expected):
        missing = set(expected) - set(got)
        extra = set(got) - set(expected)
        raise Mismatch(f"groups differ: missing {sorted(missing, key=str)[:3]}, "
                       f"unexpected {sorted(extra, key=str)[:3]}")
    worst = 0.0
    for key, (n, s, mn, mx, qv) in expected.items():
        r = got[key]
        if r["count"] != n:
            raise Mismatch(f"{key}: count {r['count']} != {n}")
        if stats:
            if r["min"] != mn or r["max"] != mx:
                raise Mismatch(f"{key}: min/max {r['min']}/{r['max']} != {mn}/{mx}")
            if abs(r["sum"] - s) > SUM_RTOL * max(abs(s), 1.0):
                raise Mismatch(f"{key}: sum {r['sum']} != {s}")
        for q, ex in zip(qs, qv):
            est = r[quantile_label(q)]
            if est is None or math.isnan(est):
                raise Mismatch(f"{key}: {quantile_label(q)} is missing")
            err = abs(est - ex)
            if err > alpha * abs(ex) + ABS_EPS:
                raise Mismatch(f"{key}: {quantile_label(q)}={est!r}, exact {ex!r}, alpha {alpha}")
            if ex != 0:
                worst = max(worst, err / abs(ex))
    return worst


def select(expected: dict, qs_all: list[float], qs: list[float]) -> dict:
    """Restrict exact answers computed for ``qs_all`` to the quantiles ``qs``."""
    idx = [qs_all.index(q) for q in qs]
    return {k: [n, s, mn, mx, [qv[i] for i in idx]] for k, (n, s, mn, mx, qv) in expected.items()}
