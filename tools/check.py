#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py <verify_out_dir> <sf_dir> [query ...]

Reads <verify_out_dir>/oracle_sql.json (written by graft.Verify), runs each
oracle against DuckDB views over the sf_dir parquet tables, loads the Spark
result parquet, sorts columns by name and rows by all columns, and compares
exactly. Queries without an oracle get a rows-only report; an oracle whose
query left no result directory (it threw inside Verify) is a FAIL.

Dev tooling only — the engine itself is pure Scala/Spark.
"""
import json, math, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v

def load_sorted(con, rel_sql):
    cur = con.execute(rel_sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    scols = [cols[i] for i in order]
    srows = sorted([tuple(norm_cell(r[i]) for i in order) for r in rows],
                   key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return scols, srows

def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    import os as _os
    for t in TABLES:
        # driver testdata is one file per table; Spark-written replicas
        # (ScaleEvidence) are part-file directories — accept both
        p = f"{sf_dir}/{t}.parquet"
        pat = f"{p}/*.parquet" if _os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    import os
    qdirs = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_ok = n_bad = 0
    for q in sorted(set(oracles) - set(qdirs)):
        if only and q not in only:
            continue
        print(f"FAIL  {q}: no Spark result (see '[verify] {q} failed' in Verify's stderr)")
        n_bad += 1
    for q in qdirs:
        if only and q not in only:
            continue
        spark_glob = f"{out_dir}/{q}/*.parquet"
        try:
            scols, srows = load_sorted(con, f"SELECT * FROM read_parquet('{spark_glob}')")
        except Exception as e:
            print(f"FAIL  {q}: cannot read spark result: {e}")
            n_bad += 1
            continue
        if q not in oracles:
            print(f"rows  {q}: {len(srows)} rows (no oracle)")
            if len(srows) == 0:
                n_bad += 1
                print(f"      WARNING: zero rows")
            else:
                n_ok += 1
            continue
        try:
            ocols, orows = load_sorted(con, oracles[q])
        except Exception as e:
            print(f"FAIL  {q}: oracle SQL error: {e}")
            n_bad += 1
            continue
        if scols != ocols:
            print(f"FAIL  {q}: columns differ\n      spark:  {scols}\n      oracle: {ocols}")
            n_bad += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL  {q}: row count spark={len(srows)} oracle={len(orows)}")
            n_bad += 1
            continue
        bad = None
        for i, (a, b) in enumerate(zip(srows, orows)):
            if a != b:
                bad = (i, a, b)
                break
        if bad:
            i, a, b = bad
            diffs = [(c, x, y) for c, x, y in zip(scols, a, b) if x != y]
            print(f"FAIL  {q}: first mismatch at sorted row {i}: {diffs[:4]}")
            n_bad += 1
        else:
            print(f"OK    {q}: {len(srows)} rows hash-match")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} bad")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
