"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a given SF, runs the
matching ``oracle_sql()`` in DuckDB over the same parquet views, and
compares: row count, sorted column names, and an order-insensitive value
hash (rows rendered to strings, sorted, md5). Not byte-identical to the
driver's hasher, but strictly *harder* to pass accidentally: any value or
type divergence shows up as a hash mismatch here first.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _norm_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)


def value_hash(rows: list[tuple]) -> str:
    lines = sorted("\x1f".join(_norm_cell(c) for c in r) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry_mod
    from progquery_spark.session import get_spark, TPCH_TABLES

    spark = get_spark("check-correctness")
    con = duckdb.connect()
    for name in TPCH_TABLES:
        p = f"{sf_dir}/{name}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sorted(sdf.columns)
            s_rows = [tuple(r[c] for c in s_cols) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(s_rows)} (no oracle, rows-only check)")
            continue
        try:
            cur = con.execute(oracles[name])
            d_cols_raw = [d[0] for d in cur.description]
            d_rows_raw = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        d_order = sorted(range(len(d_cols_raw)), key=lambda i: d_cols_raw[i])
        d_cols = [d_cols_raw[i] for i in d_order]
        d_rows = [tuple(r[i] for i in d_order) for r in d_rows_raw]
        sh, dh = value_hash(s_rows), value_hash(d_rows)
        status = "PASS" if (s_cols == d_cols and len(s_rows) == len(d_rows) and sh == dh) else "FAIL"
        print(
            f"{status} {name}: rows {len(s_rows)}/{len(d_rows)} "
            f"cols {'==' if s_cols == d_cols else f'{s_cols} != {d_cols}'} "
            f"hash {'==' if sh == dh else f'{sh[:8]} != {dh[:8]}'} "
            f"({time.time()-t0:.1f}s)"
        )
        if status == "FAIL":
            failures.append(name)
            if s_cols == d_cols:
                s_set = {tuple(_norm_cell(c) for c in r) for r in s_rows}
                d_set = {tuple(_norm_cell(c) for c in r) for r in d_rows}
                for r in list(s_set - d_set)[:3]:
                    print("   spark-only:", r)
                for r in list(d_set - s_set)[:3]:
                    print("   duck-only :", r)
    spark.stop()
    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
