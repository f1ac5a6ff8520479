#!/usr/bin/env python3
"""Pin the query_mix result hashes and check them against the DuckDB oracle.

Run from the repository root:

    python3 perfbench/pin_hashes.py

It runs every query of query_mix once (graftbench.Harness, workload
`dump`) on perfbench/data/sf0.01, hashes each result the way run.py does,
runs the query's SparkEntry.oracleSql in DuckDB on the same tables, and
writes perfbench/expected_hashes.json with the engine's hash, its row
count and whether the oracle agreed. A query whose oracle disagrees is
reported, and its entry says so; run.py checks every later run against
the engine's pinned hash.
"""
import json
import os
import shutil

import duckdb

import run as bench


def main():
    cp = bench.build()
    work = os.path.join(bench.HERE, "work", f"pin-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        r = bench.run_harness(cp, "dump", 0, 0, 0, work)
        with open(os.path.join(work, "oracle_sql.json")) as f:
            oracle = json.load(f)
        con = duckdb.connect()
        for t in sorted(os.listdir(bench.DATA)):
            name = t.removesuffix(".parquet")
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(bench.DATA, t)}')")
        pinned = {}
        for q, d in r["outputs"]:
            h, n = bench.output_hash(con, d)
            if q in oracle:
                oh, on = bench.relation_hash(con.sql(oracle[q]))
                verdict = "match" if oh == h else f"MISMATCH (oracle {on} rows)"
            else:
                verdict = "no oracle"
            print(f"{q:28s} {n:6d} rows  {h[:16]}  oracle: {verdict}")
            pinned[q] = {"sha256": h, "rows": n, "oracle": verdict}
        with open(bench.HASHES, "w") as f:
            json.dump(pinned, f, indent=2, sort_keys=True)
            f.write("\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
