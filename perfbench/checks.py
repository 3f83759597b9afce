"""Output checks against the DuckDB oracles shipped with the package.

Rows are compared as multisets of normalized cell strings, so a check
yields both a pass/fail verdict (order-insensitive value hash, the same
normalization as the repository's correctness gate) and a precision /
recall pair over rows.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import duckdb

from gen import TABLES


def _cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)


def _lines(rows) -> list[str]:
    return ["\x1f".join(_cell(c) for c in r) for r in rows]


def value_hash(lines: list[str]) -> str:
    h = hashlib.md5()
    for ln in sorted(lines):
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def overlap(got: list[str], want: list[str]) -> int:
    """Rows present in both multisets."""
    return sum((Counter(got) & Counter(want)).values())


def oracle_connection(in_dir: str, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"'{os.path.join(in_dir, name + '.parquet')}'"
        )
    return con


def oracle_lines(con, sql: str) -> tuple[list[str], list[str]]:
    """(sorted column names, rows as lines with columns in that order)."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = cur.fetchall()
    return [cols[i] for i in order], _lines(tuple(r[i] for i in order) for r in rows)


def row_lines(columns: list[str], rows) -> tuple[list[str], list[str]]:
    """Collected Spark rows as lines, columns sorted by name."""
    cols = sorted(columns)
    return cols, _lines(tuple(r[c] for c in cols) for r in rows)


def compare(got: tuple, want: tuple, expected_hash: str | None = None) -> dict:
    """Verdict plus row overlap. ``expected_hash`` replaces the oracle's
    own hash (the benchmark's tests use it to plant a wrong expectation)."""
    (g_cols, g_lines), (w_cols, w_lines) = got, want
    target = expected_hash if expected_hash is not None else value_hash(w_lines)
    ok = g_cols == w_cols and len(g_lines) == len(w_lines)
    ok = ok and value_hash(g_lines) == target
    return {
        "ok": ok,
        "matched": overlap(g_lines, w_lines) if g_cols == w_cols else 0,
        "n_got": len(g_lines),
        "n_want": len(w_lines),
    }


def parquet_lines(con, path: str, cols: list[str]) -> tuple[list[str], list[str]]:
    """Rows of a Spark-written parquet directory, read by DuckDB."""
    sel = ", ".join(f'"{c}"' for c in cols)
    rows = con.execute(
        f"SELECT {sel} FROM read_parquet('{path}/**/*.parquet')"
    ).fetchall()
    return list(cols), _lines(rows)
