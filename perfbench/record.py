#!/usr/bin/env python3
"""Records the pipeline_ops result fingerprints (perfbench/fingerprints.json).

    python3 perfbench/record.py

Runs every pipeline query once on the pipeline corpus with graft's
oracle exports on (as `graft.Verify` does), replays each query's DuckDB
oracle (`SparkEntry.oracleSql`) over the same parquet tables, and
compares row count, column names and the order-insensitive row hash
of `tools/check.py`. Only queries whose oracle agrees (or that have
no oracle, marked rows-only) are recorded; any disagreement exits 2
without writing. Run it on a commit whose `tools/check.py` gate
passes.
"""
import json
import os
import shutil
import sys

import duckdb

import run

sys.path.insert(0, os.path.join(run.ROOT, "tools"))
from check import TABLES, normhash  # noqa: E402  the repo's DuckDB gate


def main():
    cp = run.build()
    data = run.corpus(run.PIPE_SCALE)
    work = os.path.join(run.WORK, "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rec = os.path.join(work, "results")
    jvm = run.Jvm(cp, ["pipeline", data, os.path.join(work, "out"), "0", "0",
                       "0", ",".join(run.PIPELINE_QUERIES), rec], work)
    jvm.proc.wait()
    jvm.close()
    if jvm.proc.returncode != 0:
        sys.exit(f"pipeline run failed (see {work}/jvm.log)")
    with open(os.path.join(work, "out", "pipeline.json")) as f:
        res = json.load(f)
    warm = {r["name"]: r for r in res["warm"]}
    with open(os.path.join(rec, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out, bad = {}, []
    for name in run.PIPELINE_QUERIES:
        srel = con.sql(f"SELECT * FROM '{rec}/{name}/*.parquet'")
        scols, srows = srel.columns, srel.fetchall()
        entry = {"rows": warm[name]["rows"], "fp": warm[name]["fp"]}
        if len(srows) != entry["rows"]:
            bad.append(f"{name}: parquet rows {len(srows)} != collected {entry['rows']}")
        if name in oracles:
            orel = con.sql(oracles[name])
            ocols, orows = orel.columns, orel.fetchall()
            ok = (len(orows) == len(srows) and sorted(ocols) == sorted(scols)
                  and normhash(orows, ocols) == normhash(srows, scols))
            entry["oracle"] = "pass" if ok else "FAIL"
            if not ok:
                bad.append(f"{name}: oracle disagrees ({len(srows)} vs {len(orows)} rows)")
        else:
            entry["oracle"] = "rows-only"
        out[name] = entry
        print(name, entry)
    if bad:
        print("\n".join(bad))
        sys.exit(2)
    with open(os.path.join(run.HERE, "fingerprints.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"recorded {len(out)} fingerprints")


if __name__ == "__main__":
    main()
