#!/usr/bin/env python3
"""DuckDB oracle fingerprints for the benchmark's query ops.

Usage: python3 perfbench/oracle.py <lake_dir> <sql_json> <out_json>

<sql_json> maps query name -> oracle SQL with artifact tokens already
resolved. Each query runs in DuckDB over the lake's parquet tables and
its result is reduced to {"cols", "rows", "sha"} exactly as
graft.perfbench.Fingerprint reduces the engine's collected rows: columns
sorted by lower-cased name, values rendered canonically, rows sorted,
SHA-256. A query that fails gets {"error": "..."}.
"""
import datetime
import hashlib
import json
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "None"
    if isinstance(v, bool):
        return "True" if v else "False"
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def fingerprint(cols, rows):
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=lambda i: names[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    sha = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()
    return {"cols": sorted(names), "rows": len(rows), "sha": sha}


def main():
    lake, sql_json, out_json = sys.argv[1:4]
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{lake}/{t}.parquet'")
    with open(sql_json) as f:
        queries = json.load(f)
    out = {}
    for name, sql in sorted(queries.items()):
        try:
            rel = con.sql(sql)
            out[name] = fingerprint(rel.columns, rel.fetchall())
        except Exception as e:  # reported per query, checked by the harness
            out[name] = {"error": f"{type(e).__name__}: {e}"}
    with open(out_json, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
