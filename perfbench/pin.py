#!/usr/bin/env python3
"""Regenerate perfbench/pins.json, the result fingerprints run.py checks.

Run from the root of a checkout:  python3 perfbench/pin.py

Each key is pinned from its oracle SQL (`graft.SparkEntry.oracleSql`) run
on DuckDB over perfbench/data/sf0.01, so no pin comes from the code under
test. Every benchmarked key must have oracle SQL.
"""
import json
import shutil
import subprocess
from pathlib import Path

import run

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def main():
    import duckdb

    root = Path.cwd()
    work = root / ".bench_build" / "perfbench"
    work.mkdir(parents=True, exist_ok=True)
    cp = run.build(root, work)
    keys = sorted({k for w in run.WORKLOADS.values() for k in w["keys"]})

    out = work / "pin"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir()
    subprocess.run(["java", "-cp", cp, "graft.perfbench.PerfBench", "--out", str(out),
                    "--oracle-keys", ",".join(keys)], check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    sql = json.loads((out / "oracle_sql.json").read_text())

    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.DATA / t}.parquet')")
    pins = {}
    for k in keys:
        if k not in sql:
            raise SystemExit(f"{k} has no oracle SQL to pin it from")
        pins[k] = dict(run.fingerprint(con.execute(sql[k]).fetch_arrow_table()),
                       source="oracle_sql on duckdb")
    run.PINS.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
    shutil.rmtree(out, ignore_errors=True)
    for k in keys:
        print(k, pins[k]["rows"], pins[k]["hash"], pins[k]["source"])


if __name__ == "__main__":
    main()
