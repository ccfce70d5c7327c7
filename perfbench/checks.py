"""Correctness checks, run outside the timed loop.

Results are compared the way ``scripts/oracle_sweep.py`` compares against
DuckDB: columns sorted by name, integers of any width as one type, dates
and timestamps as one type, rows sorted, then equality. The benchmark's
SQL does not round, so floats are compared to a relative 1e-9 instead of
exactly: summation order differs between engines and between a cuboid
and a scan.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import numpy as np

REL_TOL = 1e-9


def _cell(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, Decimal)):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day)
    if isinstance(v, np.datetime64):
        return v.astype("datetime64[us]").astype(dt.datetime)
    return v


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Sorted column names and rows sorted over every column."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda row: tuple((v is None, v if v is not None else 0) for v in row))
    return [columns[i] for i in order], out


def _same_value(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    if isinstance(a, float) != isinstance(b, float):
        return False  # an int and a float column differ, as in the sweep
    return a == b


def same_result(a: tuple, b: tuple) -> bool:
    """``a`` and ``b`` are ``canonical(...)`` outputs."""
    (ca, ra), (cb, rb) = a, b
    if [c.lower() for c in ca] != [c.lower() for c in cb] or len(ra) != len(rb):
        return False
    return all(
        len(x) == len(y) and all(_same_value(u, v) for u, v in zip(x, y))
        for x, y in zip(ra, rb)
    )


def duckdb_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return canonical(cols, cur.fetchall())


def cosine_topk(vecs: np.ndarray, query_ids, k: int) -> set[tuple[int, int]]:
    """Brute-force top-k (query id, candidate id) pairs by cosine,
    excluding the query itself — the truth IVF recall is measured on."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    out: set[tuple[int, int]] = set()
    for q in query_ids:
        sims = unit @ unit[q]
        sims[q] = -np.inf
        for c in np.argsort(-sims, kind="stable")[:k]:
            out.add((int(q), int(c)))
    return out
