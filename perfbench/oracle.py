"""DuckDB oracle comparison of the analytics warm-up pass.

The comparison follows `tools/check.py`: the oracle SQL runs against DuckDB
views over the scale-factor tables, both sides are sorted by column name
and then by row, and the rows must be equal.
"""
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _sorted(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted((tuple(_cell(r[i]) for i in order) for r in cur.fetchall()),
                  key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], rows


def compare(result_dir, oracle_sql, sf_dir):
    """None when the Spark result under `result_dir` equals the oracle's,
    else a one-line reason."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        scols, srows = _sorted(con, f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
        ocols, orows = _sorted(con, oracle_sql)
    finally:
        con.close()
    if scols != ocols:
        return f"columns differ: {scols} vs {ocols}"
    if len(srows) != len(orows):
        return f"row count {len(srows)} vs oracle {len(orows)}"
    for i, (a, b) in enumerate(zip(srows, orows)):
        if a != b:
            return f"first mismatch at sorted row {i}"
    return None
