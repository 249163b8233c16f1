#!/usr/bin/env python3
"""Compare two graft.Verify output dirs query by query.

Each query's parquet output is canonicalised as scripts/check_oracle.py
does (columns sorted, values type-tagged, rows sorted), together with its
column types, and hashed; the two runs must agree on every query that
either run's oracle_sql.json names.

Usage: python3 scripts/compare_outputs.py <verifyOutA> <verifyOutB> [out.json]

Prints one line per differing query and a summary; with out.json, also
writes the per-query hashes there. Exits 1 if any query differs or is
missing from either run.
"""
import hashlib
import json
import os
import sys

import duckdb

from check_oracle import frame


def digest(con, out_dir, name):
    path = f"{out_dir}/{name}"
    if not os.path.isdir(path):
        return None
    rel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
    types = dict(zip(rel.columns, map(str, rel.types)))
    cols, rows = frame(rel)
    blob = json.dumps([[(c, types[c]) for c in cols], rows])
    return hashlib.sha256(blob.encode()).hexdigest()


def main(a_dir, b_dir, out_json=None):
    con = duckdb.connect()
    names = sorted(set(json.load(open(f"{a_dir}/oracle_sql.json")))
                   | set(json.load(open(f"{b_dir}/oracle_sql.json"))))
    queries = {}
    for name in names:
        a, b = digest(con, a_dir, name), digest(con, b_dir, name)
        queries[name] = {"a": a, "b": b, "equal": a is not None and a == b}
        if not queries[name]["equal"]:
            print(f"DIFF {name}: {a} vs {b}")
    n_equal = sum(q["equal"] for q in queries.values())
    print(f"{n_equal}/{len(names)} queries hash equal")
    if out_json:
        with open(out_json, "w") as f:
            json.dump({"a": a_dir, "b": b_dir, "equal": n_equal,
                       "total": len(names), "queries": queries}, f, indent=1)
    return 0 if n_equal == len(names) else 1


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
