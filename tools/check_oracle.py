#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Runs after `sbt "runMain graft.Verify <sfDir> <outDir> [q_a,q_b,...]"`:
for each query result parquet in <outDir>, runs the matching oracle SQL in
DuckDB over the sfDir tables and compares (columns sorted by name, rows
sorted, exact value match — conservative vs the driver's hash).

A filtered Verify run writes `oracle_sql_filtered.json` instead of
`oracle_sql.json`; that map is read when the full one is absent and the
summary line says "(filtered)". Every query Verify lists in
`verify_failures.json` counts as FAIL, whether or not it has an oracle.
"""
import duckdb, glob, json, os, sys

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for p in sorted(glob.glob(f"{sf_dir}/*.parquet")):
    name = os.path.basename(p).replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

full_map = f"{out_dir}/oracle_sql.json"
filtered = not os.path.exists(full_map)
oracle = json.load(open(f"{out_dir}/oracle_sql_filtered.json" if filtered else full_map))
failures_file = f"{out_dir}/verify_failures.json"
failures = json.load(open(failures_file)) if os.path.exists(failures_file) else {}
n_pass = n_fail = 0

# queries that threw in Verify: their result directory is absent (or stale
# from an earlier run), so they are failures whatever the checks below see
for name in sorted(failures):
    print(f"FAIL {name}: verify: {failures[name]}")
    n_fail += 1

for name in sorted(oracle):
    if name in failures:
        continue
    sql = oracle[name]
    res_glob = f"{out_dir}/{name}/*.parquet"
    try:
        got = con.sql(f"SELECT * FROM read_parquet('{res_glob}')").df()
        exp = con.sql(sql).df()
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        # normalize for comparison the way a value-hash would see it
        gs = got.astype(str).apply(lambda r: "|".join(r), axis=1).sort_values().reset_index(drop=True)
        es = exp.astype(str).apply(lambda r: "|".join(r), axis=1).sort_values().reset_index(drop=True)
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: schema {list(got.columns)} vs {list(exp.columns)}")
            n_fail += 1
        elif len(gs) != len(es):
            print(f"FAIL {name}: rows {len(gs)} vs {len(es)}")
            n_fail += 1
        elif not gs.equals(es):
            diff = (gs != es)
            i = diff[diff].index[0]
            print(f"FAIL {name}: value mismatch at sorted-row {i}:\n  spark: {gs[i]}\n  duck : {es[i]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(gs)} rows)")
            n_pass += 1
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {e}")
        n_fail += 1

# queries with no oracle: rows-only check
for d in sorted(glob.glob(f"{out_dir}/q_*")):
    name = os.path.basename(d)
    if name in oracle or name in failures or not os.path.isdir(d):
        continue
    try:
        n = con.sql(f"SELECT COUNT(*) FROM read_parquet('{d}/*.parquet')").fetchone()[0]
        status = "PASS" if n > 0 else "FAIL"
        print(f"{status} {name} (rows-only: {n} rows)")
        if n > 0: n_pass += 1
        else: n_fail += 1
    except Exception as e:
        print(f"FAIL {name} (rows-only): {e}")
        n_fail += 1

print(f"\n{n_pass} pass / {n_fail} fail" + (" (filtered)" if filtered else ""))
sys.exit(1 if n_fail else 0)
