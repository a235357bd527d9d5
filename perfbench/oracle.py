"""DuckDB reference answers, computed outside the timed region."""

from __future__ import annotations

import datetime as dt

import duckdb


def lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, dt.date):
        return f"DATE '{v.isoformat()}'"
    return repr(v)


def dnf_sql(preds) -> str:
    """SQL for a DNF predicate list ``[[(col, op, value), ...], ...]``."""
    ors = []
    for conj in preds:
        ands = []
        for col, op, v in conj:
            if op == "in":
                ands.append(f"{col} IN ({', '.join(lit(x) for x in v)})")
            else:
                ands.append(f"{col} {'=' if op == '==' else op} {lit(v)}")
        ors.append("(" + " AND ".join(ands) + ")")
    return " OR ".join(ors)


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def files_sql(files) -> str:
    return "[" + ", ".join(lit(f) for f in files) + "]"


def same(expected, got, rel: float = 1e-9) -> bool:
    """Row equality with a relative tolerance for floating-point sums."""
    if got is None or len(expected) != len(got):
        return False
    for e, g in zip(expected, got):
        if e is None or g is None:
            if e != g:
                return False
        elif abs(float(e) - float(g)) > rel * max(1.0, abs(float(e))):
            return False
    return True
