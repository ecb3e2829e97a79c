#!/usr/bin/env python3
"""Cross-check the pinned results against the DuckDB oracle.

Usage (from the root of a checkout):

    python3 perfbench/crosscheck.py [sf0.01|sf0.001]

For every workload, run.py --dump 1 executes each query once, checks its
content hash against perfbench/expected/<data>.json and writes the
result as parquet together with the query's oracle SQL
(SparkEntry.oracleSql). This script then runs each oracle SQL in DuckDB
over the same bundled tables and compares: columns sorted by name, rows
sorted, values exact (floats via repr), the rule of tools/check.py.
A pin is trustworthy when its dump passes here. Exits 1 on any failure.
"""
import json
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DUMP = os.path.join(HERE, ".work", "run", "dump")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ["catalogue_enrich", "corpus_heavy", "analytics_concurrent"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = repr(v)
            elif isinstance(v, list):
                v = json.dumps([repr(x) if isinstance(x, float) else x for x in v])
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out), [cols[i] for i in order]


def main():
    data = sys.argv[1] if len(sys.argv) > 1 else "sf0.01"
    tables = os.path.join(HERE, "data", data)
    expected = json.load(open(os.path.join(HERE, "expected", data + ".json")))
    failed = 0
    for w in WORKLOADS:
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                        "--seed", "1", "--seconds", "1", "--data", data, "--dump", "1"],
                       cwd=ROOT, check=True)
        con = duckdb.connect()
        spill = os.path.join(HERE, ".work", "duckdb")
        os.makedirs(spill, exist_ok=True)
        con.execute(f"SET temp_directory='{spill}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        oracle = json.load(open(os.path.join(DUMP, "oracle_sql.json")))
        for name, sql in sorted(oracle.items()):
            got = con.execute(f"SELECT * FROM '{DUMP}/{name}/*.parquet'")
            g, gc = canon(got.fetchall(), [d[0] for d in got.description])
            exp = con.execute(sql)
            e, ec = canon(exp.fetchall(), [d[0] for d in exp.description])
            if gc != ec or g != e or len(e) != expected[name]["rows"]:
                print(f"FAIL {w} {name}: {len(g)} rows vs oracle {len(e)}, "
                      f"pinned {expected[name]['rows']}")
                failed += 1
            else:
                print(f"PASS {w} {name} ({len(e)} rows, pinned hash {expected[name]['hash']})")
    print("crosscheck " + ("passed" if not failed else f"FAILED: {failed}"))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
