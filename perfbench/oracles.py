#!/usr/bin/env python3
"""DuckDB oracle check of the board's outputs.

Runs each query's oracle SQL (graft.Oracles, dumped by the benchmark into
<out_dir>/oracle_sql.json with ${OUT} resolved) in DuckDB over the same
parquet tables, and compares it with the engine's parquet output of that
query, canonicalized by tools/compare.py's own `canon` (columns sorted by
name, rows rendered and sorted). Unlike that script it returns the
results and also fails a query whose oracle and output are both empty.

Usage: oracles.py <tables_dir> <out_dir>
Recomputes every DuckDB answer and prints PASS/FAIL per query; exit code 1
when any query fails. A run keeps its tables and outputs for this command
when started with PERFBENCH_KEEP=1 (see README.md).
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from compare import TABLES, canon  # noqa: E402


def check(tables_dir, out_dir):
    """Returns {query: None if it passes, else what differs}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    result = {}
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            gc, gr = canon(got.fetchall(), [d[0] for d in got.description])
            exp = con.execute(sql)
            ec, er = canon(exp.fetchall(), [d[0] for d in exp.description])
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            result[name] = f"error {type(e).__name__}: {e}"[:300]
            continue
        if gc != ec:
            result[name] = f"columns {gc} != {ec}"
        elif gr != er:
            bad = sum(1 for a, b in zip(gr, er) if a != b) + abs(len(gr) - len(er))
            result[name] = f"{bad} of {len(er)} rows differ"
        elif not er:
            result[name] = "oracle and output are both empty"
        else:
            result[name] = None
    return result


if __name__ == "__main__":
    res = check(sys.argv[1], sys.argv[2])
    for name, why in res.items():
        print(("PASS " if why is None else "FAIL ") + name + ("" if why is None else ": " + why))
    npass = sum(1 for v in res.values() if v is None)
    print(f"== {npass}/{len(res)} pass")
    sys.exit(0 if npass == len(res) else 1)
