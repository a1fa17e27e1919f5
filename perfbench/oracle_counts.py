#!/usr/bin/env python3
"""Refresh `catalog_oracle.json`: the DuckDB oracle's row count and
result hash (`run.result_hash`) for every catalog query on the bench
corpus, keyed by a hash of the oracle SQL.

    python3 perfbench/oracle_counts.py

`run.py` checks each catalog query's row count (and, on traced runs, its
result hash) against this file, and runs the oracle live for any query
whose SQL hash is not in it, so a stale entry is never used; refreshing
only saves that time. Entries whose SQL is unchanged are kept, so a
refresh recomputes only new or changed oracles. A full refresh takes several minutes: some oracles
are slow in DuckDB. An oracle whose full result does not arrive within a
minute (or fit in 4 GB) is stored with its row count only, and traced runs
check that query's row count, not its values; one whose count does not
arrive within two minutes is left out, and runs check it live.
"""
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    cp = run.classpath()
    out = subprocess.run(["java", "-cp", cp, "perfbench.OracleDump"], check=True,
                         capture_output=True, text=True).stdout
    oracle = json.loads(out.strip().splitlines()[-1])
    con = run.duckdb_views(run.corpus_dir(), memory="4GB", threads=2)
    path = os.path.join(run.HERE, "catalog_oracle.json")
    old = json.load(open(path)) if os.path.isfile(path) else {}
    counts = {}
    for name in sorted(oracle):
        t0 = time.time()
        sql = oracle[name]
        entry = {"sql_sha256": run.sql_hash(sql)}
        if old.get(name, {}).get("sql_sha256") == entry["sql_sha256"]:
            counts[name] = old[name]
            continue
        try:
            exp = run.oracle(con, sql, 60)
            entry.update(rows=len(exp), result_sha256=run.result_hash(exp))
        except Exception as e:
            print(f"{name}: full oracle result failed ({e}); counting only", file=sys.stderr)
            try:
                entry["rows"] = run.oracle(con, sql, 120, count=True)
            except Exception as e2:
                print(f"{name}: oracle failed: {e2}", file=sys.stderr)
                continue
        counts[name] = entry
        print(f"{name}: {entry['rows']} rows ({time.time() - t0:.1f} s)", file=sys.stderr)
        write(path, counts)
    write(path, counts)


def write(path, counts):
    with open(path + ".tmp", "w") as f:
        json.dump(counts, f, indent=0, sort_keys=True)
        f.write("\n")
    os.replace(path + ".tmp", path)


if __name__ == "__main__":
    main()
