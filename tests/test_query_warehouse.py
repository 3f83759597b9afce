"""Query warehouses: registered queries read the stage snapshots of one
``Pipeline`` per (session, sf_dir, fuzzy), and ``clear_query_caches()``
deletes them."""

import os

import duckdb
from test_graph_query import SF

from progquery_spark import queries as Q
from progquery_spark.oracle import triples_canonical_sql
from progquery_spark.session import TPCH_TABLES


def _oracle_rows(sf_dir: str, sql: str) -> int:
    con = duckdb.connect()
    for name in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    n = len(con.execute(sql).fetchall())
    con.close()
    return n


def test_query_warehouses_per_sf_dir_and_cleared(spark, tmp_path):
    # a second input dir in the same session: the even orders of SF
    half = str(tmp_path / "half")
    os.makedirs(half)
    con = duckdb.connect()
    keep = {"orders": "o_orderkey % 2 = 0", "lineitem": "l_orderkey % 2 = 0"}
    for name in TPCH_TABLES:
        src = os.path.join(SF, f"{name}.parquet")
        if os.path.exists(src):
            where = f" WHERE {keep[name]}" if name in keep else ""
            con.execute(
                f"COPY (SELECT * FROM '{src}'{where}) "
                f"TO '{half}/{name}.parquet' (FORMAT parquet)"
            )
    con.close()

    sql = triples_canonical_sql()
    counts = {}
    for sf_dir in (SF, half, SF):  # back to SF: its stages were not replaced
        counts[sf_dir] = Q.q_triples_canonical(spark, sf_dir).count()
        assert counts[sf_dir] == _oracle_rows(sf_dir, sql), sf_dir
    assert 0 < counts[half] < counts[SF]

    app = spark.sparkContext.applicationId
    whs = {k: p.warehouse for k, p in Q._PIPELINES.items() if k[0] == app}
    assert {(app, SF, False), (app, half, False)} <= set(whs)
    assert len(set(whs.values())) == len(whs)  # no shared warehouse dir
    assert all(os.path.isdir(w) for w in whs.values())

    Q.clear_query_caches()
    assert not Q._PIPELINES
    assert not any(os.path.exists(w) for w in whs.values())
