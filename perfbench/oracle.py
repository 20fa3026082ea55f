"""Expected answers for every benchmark op and the check against them.

Relational queries are answered by DuckDB running each query's registered
oracle SQL over the generated tables; the answers are computed once per
input build and cached as canonical cells. The flagship over
``timeseries(c)`` is answered exactly: DuckDB sums the integer LCG state
behind ``y`` per (day, name) once for the full 1000-day range, and any
count's sample standard deviation follows from prefix sums in rational
arithmetic.

Rows are compared in the canonical form of ``tests/oracle_check``
(columns sorted by name, typed cells, rows sorted), except that float
cells match at a relative tolerance instead of bit for bit.
"""

from __future__ import annotations

import math
import os
from decimal import Decimal, localcontext
from fractions import Fraction

from tests.oracle_check import _norm

REL_TOL = 1e-9

# timeseries() constants (sources/synthetic.py): y = v / 2^32 * 2 - 1 with
# v = (i * MULT_Y + INC_Y) mod 2^32, name = i mod 26, one row per second
M32 = 4_294_967_296
MULT_Y = 2_246_822_519
INC_Y = 3_266_489_917
NAMES = 26
DAY = 86_400
MAX_DAYS = 1000


def canonical_cells(columns: list[str], rows: list) -> list[list[str]]:
    """Rows as lists of typed cells: ``oracle_check.canonical_rows``
    before its cells are joined."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(([_norm(r[i]) for i in order] for r in rows),
                  key="|".join)


def _float(cell: str) -> float | None:
    if not cell.startswith("f:"):
        return None
    try:
        return float(cell[2:])
    except ValueError:
        return None


def cells_equal(a: str, b: str) -> bool:
    if a == b:
        return True
    fa, fb = _float(a), _float(b)
    return (fa is not None and fb is not None
            and math.isclose(fa, fb, rel_tol=REL_TOL, abs_tol=0.0))


def _coarse_key(row: list[str]) -> list[str]:
    """Sort key that is stable under last-digit float differences."""
    return [f"f:{f:.6e}" if (f := _float(c)) is not None else c
            for c in row]


def match(expected: dict, columns: list[str], rows: list) -> str | None:
    """``None`` when ``rows`` match the expected answer, else the reason."""
    if sorted(columns) != expected["columns"]:
        return f"columns {sorted(columns)} != {expected['columns']}"
    got, want = canonical_cells(columns, rows), expected["cells"]
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"

    def first_diff(xs, ys):
        for x, y in zip(xs, ys):
            if not all(cells_equal(a, b) for a, b in zip(x, y)):
                return f"row {x} != {y}"
        return None

    diff = first_diff(got, want)
    if diff is not None:  # a float's last digits may have moved a row
        diff = first_diff(sorted(got, key=_coarse_key),
                          sorted(want, key=_coarse_key))
    return diff


def duckdb_answers(sf_dir: str, sql_by_name: dict[str, str]
                   ) -> dict[str, dict]:
    """Run each oracle SQL in DuckDB over the parquet tables in ``sf_dir``,
    one view per ``<table>.parquet``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        for f in sorted(os.listdir(sf_dir)):
            con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                        f"SELECT * FROM '{sf_dir}/{f}'")
        out = {}
        for name, sql in sql_by_name.items():
            rel = con.sql(sql)
            cols = list(rel.columns)
            out[name] = {"columns": sorted(cols),
                         "cells": canonical_cells(cols, rel.fetchall())}
        return out
    finally:
        con.close()


def flagship_day_sums(days: int = MAX_DAYS) -> list[list[list[int]]]:
    """Per day, per name: ``[sum of v, row count]`` over ``days`` days."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        rows = con.execute(f"""
            SELECT i // {DAY} AS d, i % {NAMES} AS k,
                   CAST(sum((i * {MULT_Y} + {INC_Y}) % {M32}) AS VARCHAR),
                   count(*)
            FROM range(0, {days * DAY}) t(i) GROUP BY ALL""").fetchall()
    finally:
        con.close()
    sums = [[[0, 0] for _ in range(NAMES)] for _ in range(days)]
    for d, k, s, n in rows:
        sums[d][k] = [int(s), n]
    return sums


class FlagshipOracle:
    """Exact ``stddev_samp(avg(y) GROUP BY name)`` over the first ``c``
    days of ``timeseries``, from per-day integer sums."""

    def __init__(self, day_sums: list[list[list[int]]]):
        self._prefix = [[(0, 0)] * NAMES]
        for day in day_sums:
            last = self._prefix[-1]
            self._prefix.append([(s0 + s, n0 + n)
                                 for (s0, n0), (s, n) in zip(last, day)])

    def std(self, days: int) -> float:
        means = [Fraction(2 * s, M32 * n) - 1
                 for s, n in self._prefix[days]]
        mean = sum(means) / NAMES
        var = sum((m - mean) ** 2 for m in means) / (NAMES - 1)
        with localcontext() as ctx:
            ctx.prec = 50
            return float((Decimal(var.numerator)
                          / Decimal(var.denominator)).sqrt())

    def answer(self, days: int) -> dict:
        return {"columns": ["y_std"],
                "cells": canonical_cells(["y_std"], [(self.std(days),)])}
