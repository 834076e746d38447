#!/usr/bin/env python3
"""Regenerate lakebench/golden/hashes.tsv, the dashboard queries' golden
result hashes, and cross-check every result against the registry's oracle
SQL in DuckDB first.

    python3 lakebench/golden.py

Runs each dashboard query once in the benchmark's own build (local[4],
sf0.1), writes its rows as parquet into a scratch directory under
.bench_build/, then replays `SparkEntry.oracleSql` for it in DuckDB over the
same sf0.1 tables and compares columns sorted by name and rows sorted, by
exact value (the tools/check_oracle.py recipe). The hash file is written
only when every query matches its oracle.
"""
import glob
import json
import os
import shutil
import subprocess
import sys

import duckdb

import run

GOLDEN = os.path.join(run.BENCH, "golden", "hashes.tsv")


def cross_check(sf_dir, out_dir):
    con = duckdb.connect()
    for p in sorted(glob.glob(f"{sf_dir}/*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    names = [l.split("\t")[0] for l in open(os.path.join(out_dir, "hashes.tsv")) if l.strip()]
    bad = 0
    for name in names:
        if name not in oracle:
            print(f"FAIL {name}: no oracle SQL")
            bad += 1
            continue
        got = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
        exp = con.sql(oracle[name]).df()
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        gs = got.astype(str).apply("|".join, axis=1).sort_values().reset_index(drop=True)
        es = exp.astype(str).apply("|".join, axis=1).sort_values().reset_index(drop=True)
        if list(got.columns) != list(exp.columns) or not gs.equals(es):
            print(f"FAIL {name}: result differs from its oracle")
            bad += 1
        else:
            print(f"PASS {name} ({len(gs)} rows)")
    return bad


def main():
    jars = run.spark_jars()
    classes, _ = run.build(jars)
    work = os.path.join(run.ROOT, ".bench_build", "goldens")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{run.HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in run.ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "lakebench.Main",
              "--goldens", out, "--data", os.path.join(run.BENCH, "data"), "--work", work])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        if subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work).returncode:
            sys.exit("golden run failed; see " + log.name)
    if cross_check(os.path.join(run.BENCH, "data", "sf0.1"), out):
        sys.exit("not writing goldens: oracle mismatch")
    shutil.copy(os.path.join(out, "hashes.tsv"), GOLDEN)
    print(f"wrote {os.path.relpath(GOLDEN, run.ROOT)}")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
