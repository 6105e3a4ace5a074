#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: for each query result
parquet written by graft.Verify, run the corresponding oracle SQL in
DuckDB over the same testdata tables and compare (sorted columns, sorted
rows, doubles rounded to 1e-9).

Usage: verify_local.py [--strict] [--profile] <sfDir> <outDir> [query ...]

--profile records per-query DuckDB oracle execution wall ms (SQL run
time only — parquet reads of the Spark results and the compare are
excluded) to <outDir>/oracle_timings.json plus a sorted top-20 list on
stdout. This is the repo's only lever on the DRIVER's compare stage
(two rounds of empty CORRECTNESS artifacts with a fast, crash-evident
dump side left the driver's own DuckDB compare as the prime suspect):
profile, then shrink the top offenders' SQL.

--strict mimics the driver's hash compare: EXACT value equality after
rounding floats to 1e-6 (the repo's output-rounding convention — the
r8 evidence: queries with ~1e-9 cross-engine drift passed the driver
hash, while q_cusum's 1e-6 flip failed it) instead of the default
round-1e-9 + 2e-9 tolerance. The r8 q_cusum lesson: run `graft.Verify` with
SPARK_GRAFT_ONLY **unset** (full suite, ONE Spark session — the shared
persisted panel's partition layout differs from isolated runs) and then
this script with --strict; that combination reproduces the driver's
gate locally. Isolated-query runs are for iteration speed only.
"""
import json, sys, glob, os, time
import duckdb
import pandas as pd
import numpy as np

from canon import NonScalarColumn, canon

argv = [a for a in sys.argv[1:] if a not in ("--strict", "--profile")]
strict = "--strict" in sys.argv[1:]
profile = "--profile" in sys.argv[1:]
sfdir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.01"
outdir = argv[1] if len(argv) > 1 else "/tmp/verify_out"
only = set(argv[2:])

if "sf0.01" not in sfdir:
    print(f"WARNING: the fourier/temporal-tree oracles hardcode the sf0.01 "
          f"geometry (ncells=64, months 1..30); expect spurious FAILs for "
          f"q_fourier_lag*/q_temporal_tree_* at {sfdir}")

con = duckdb.connect()
for f in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(f).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

fails = 0
timings = {}
for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    res_path = f"{outdir}/{name}"
    if not os.path.isdir(res_path):
        print(f"FAIL {name}: no spark result dir")
        fails += 1
        continue
    try:
        spark_df = pd.read_parquet(res_path)
        # oracle-side wire rule (r14, mirror of the PlanLintSpec sweep's
        # Spark-side no-array-output assertion): the DECLARED oracle
        # result schema must be scalar columns only — the driver's
        # pandas compare sorts every column and cannot sort a LIST/
        # STRUCT/MAP cell (unhashable ndarray — the r12 q_embed_rp
        # crash class). DESCRIBE costs a plan, not a run, so the check
        # covers every oracle even when its execution would later fail.
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
        composite = [(c, t) for c, t, *_ in desc
                     if "[]" in t or t.startswith(("STRUCT", "MAP", "LIST", "UNION"))]
        if composite:
            print(f"FAIL {name}: oracle declares non-scalar column(s) "
                  f"{composite} — the driver compare cannot sort these; "
                  f"emit scalar rows from the SQL")
            fails += 1
            continue
        t0 = time.perf_counter()
        duck_df = con.execute(sql).df()
        timings[name] = round((time.perf_counter() - t0) * 1000.0, 1)
    except Exception as e:
        print(f"FAIL {name}: {e}")
        fails += 1
        continue
    try:
        a, b = canon(spark_df, strict), canon(duck_df, strict)
    except NonScalarColumn as e:
        print(f"FAIL {name}: {e}")
        fails += 1
        continue
    if list(a.columns) != list(b.columns):
        print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
        fails += 1
        continue
    if len(a) != len(b):
        print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
        fails += 1
        continue
    ok = True
    for c in a.columns:
        av, bv = a[c], b[c]
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            atol = 0.0 if strict else 2e-9
            same = ((av.isna() & bv.isna()) | np.isclose(av.astype(float), bv.astype(float),
                    rtol=0, atol=atol, equal_nan=True)).all()
        else:
            same = (av.fillna('__null__') == bv.fillna('__null__')).all() if av.dtype == object \
                else ((av.isna() & bv.isna()) | (av == bv)).all()
        if not same:
            bad = None
            try:
                m = ~(((av.isna()) & (bv.isna())) | (av == bv))
                bad = pd.DataFrame({"spark": av[m], "duck": bv[m]}).head(5)
            except Exception:
                pass
            print(f"FAIL {name}: column {c} mismatch\n{bad}")
            ok = False
            fails += 1
            break
    if ok:
        print(f"OK   {name} ({len(a)} rows)")
if profile and timings:
    with open(f"{outdir}/oracle_timings.json", "w") as f:
        json.dump({"total_ms": round(sum(timings.values()), 1),
                   "queries": dict(sorted(timings.items()))}, f, indent=1)
    top = sorted(timings.items(), key=lambda kv: -kv[1])[:20]
    print(f"\noracle DuckDB total: {sum(timings.values())/1000.0:.1f} s "
          f"over {len(timings)} queries; top offenders:")
    for n, ms in top:
        print(f"  {ms/1000.0:7.2f} s  {n}")
print(f"\n{'ALL OK' if fails == 0 else f'{fails} FAILURES'}")
sys.exit(1 if fails else 0)
