#!/usr/bin/env python3
"""The check behind sitebench/registry_expected.json.

Replays `SparkEntry.oracleSql` for each registry_heavy query in DuckDB over
the generated corpus and compares it with the engine's output of the same
query (columns sorted by name, rows sorted, floats rounded to 9 significant
digits). Only when every query matches does it write the engine's row
counts and digests to registry_expected.json, which every registry_heavy
run then gates on.

Usage (re-record after a change to the corpus generator or the queries):
    python3 sitebench/run.py --workload registry_heavy --seed 0 --seconds 1 \\
        --trace 0 --record DIR
    python3 sitebench/registry_oracle.py DIR
"""
import json
import math
import os
import sys

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0" if v == 0 else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(norm(r[i]) for i in order) for r in rows)


def main():
    rec = sys.argv[1]
    with open(os.path.join(rec, "digests.json")) as f:
        digests = json.load(f)
    with open(os.path.join(rec, "oracle_sql.json")) as f:
        oracles = json.load(f)
    data = os.path.join(rec, "registry")
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in sorted(os.listdir(data)):
        if t.endswith(".parquet"):
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{data}/{t}/*.parquet')")
    bad = []
    for q, sql in sorted(oracles.items()):
        rel = con.sql(sql)
        d_cols, d_rows = canon(rel.columns, rel.fetchall())
        tbl = pq.read_table(os.path.join(rec, "results", q))
        s_cols, s_rows = canon(tbl.column_names, [tuple(r.values()) for r in tbl.to_pylist()])
        ok = d_cols == s_cols and d_rows == s_rows
        print(f"{q}: engine {len(s_rows)} rows, oracle {len(d_rows)} rows, {'match' if ok else 'MISMATCH'}")
        if not ok:
            bad.append(q)
    if bad:
        sys.exit(f"oracle mismatch: {', '.join(bad)}; registry_expected.json not written")
    out = {"sf": digests["sf"], "data_seed": digests["data_seed"],
           "oracle": "duckdb " + duckdb.__version__, "queries": digests["queries"]}
    with open(os.path.join(HERE, "registry_expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print("wrote registry_expected.json")


if __name__ == "__main__":
    main()
