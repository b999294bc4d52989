"""Output checks against the engine's DuckDB oracles.

The comparison is the one the engine's oracle tests make
(``tests/conftest.py``): the same columns, the same row count, and the
same rows after ``normalize_rows`` (columns sorted by name, cells
stringified, rows sorted).
"""

from __future__ import annotations

import duckdb

from tests.conftest import duckdb_connect, normalize_rows

__all__ = ["compare", "duckdb_connect", "oracle_rows"]

Rows = tuple[list[str], list[tuple]]


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> Rows:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def compare(got: Rows, want: Rows) -> str | None:
    """None when ``got`` matches ``want``, else what differs."""
    (g_cols, g_rows), (w_cols, w_rows) = got, want
    if sorted(g_cols) != sorted(w_cols):
        return f"columns {sorted(g_cols)} != oracle {sorted(w_cols)}"
    if len(g_rows) != len(w_rows):
        return f"{len(g_rows)} rows != oracle {len(w_rows)}"
    gn, wn = normalize_rows(g_cols, g_rows)[1], normalize_rows(w_cols, w_rows)[1]
    diffs = [(a, b) for a, b in zip(gn, wn) if a != b]
    if diffs:
        return f"{len(diffs)} rows differ, first {diffs[0]}"
    return None
