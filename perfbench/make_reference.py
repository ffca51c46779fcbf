#!/usr/bin/env python3
"""Writes perfbench/reference/sf<sf>.json: the digest that each workload
key's result must match, under the rules of scripts/selfcheck.py.

Run it once whenever the benchmark's data or key lists change:
  python3 perfbench/make_reference.py

graft.Verify dumps every key's result and the oracle SQL on the
committed, unpermuted data. Each reference is the DuckDB oracle's
answer, run to completion; the engine's answer must agree with it. The
tool stops when a key has no oracle SQL, the engine fails on it, or the
two answers differ. Needs duckdb.
"""
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import benchlib as bl
import build

BENCH = Path(__file__).resolve().parent
OUT = build.OUT / "reference"


def main():
    import duckdb

    spec = json.loads((BENCH / "workloads.json").read_text())
    data = BENCH / "data" / f"sf{spec['sf']}"
    keys = sorted({k for w in spec["workloads"].values() for k in w["keys"]})
    cp = build.build()
    shutil.rmtree(OUT, ignore_errors=True)
    (build.OUT / "tmp").mkdir(parents=True, exist_ok=True)
    subprocess.run(
        ["java"] + build.jvm_opens() +
        [f"-Xmx{spec['driver_heap']}", f"-Djava.io.tmpdir={build.OUT / 'tmp'}",
         f"-Dspark.local.dir={build.OUT / 'tmp'}", "-Dspark.ui.enabled=false",
         "-cp", cp, "graft.Verify", str(data), str(OUT), ",".join(keys)],
        check=True, cwd=build.ROOT,
        env={**os.environ, "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0)))})
    dumped = {p.name: p for p in OUT.iterdir() if p.is_dir()}
    oracle = json.loads((OUT / "oracle_sql.json").read_text())

    con = duckdb.connect()
    for t in bl.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data / (t + '.parquet')}')")
    ref = {"data_sha256": {t: bl.file_sha256(data / f"{t}.parquet")
                           for t in bl.TABLES}, "keys": {}}
    for k in keys:
        if k not in dumped:
            sys.exit(f"make_reference: the engine failed on {k}")
        if k not in oracle:
            sys.exit(f"make_reference: {k} has no oracle SQL")
        r = con.sql(oracle[k])
        entry = bl.digest(list(r.columns),
                          [bl.duckdb_type_class(t) for t in r.types],
                          r.fetchall())
        diff = bl.mismatch(bl.engine_digest(dumped[k]), entry)
        if diff:
            sys.exit(f"make_reference: {k} disagrees with its oracle: {diff}")
        ref["keys"][k] = entry
        print(f"{k}: {entry['rows']} rows", file=sys.stderr)
    path = BENCH / "reference" / f"sf{spec['sf']}.json"
    path.parent.mkdir(exist_ok=True)
    path.write_text(json.dumps(ref, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
