#!/usr/bin/env python3
"""Oracle-side scan-order invariance audit over the full surface.

The r14 cusum root cause was a float SUM whose last ULP depends on the
engine's merge order: locally both engines consumed the single parquet
file in the same order (green), the driver's environment split it
differently (red). This audit simulates the driver-side divergence
LOCALLY for the DuckDB half: every oracle SQL is executed twice — once
over the tables as stored, once over scan-order-PERTURBED views (each
table routed through a forced re-sort on a hash of its columns, which
changes the order unordered aggregations consume rows in) — and the
two results are compared at the driver's 1e-6 rounding after
column/row canonicalization.

A query that differs is "green by luck": its value depends on scan
order, so a driver environment that splits inputs differently can
legitimately flip its hash even though today's artifact is green.

Usage: verify_order_invariance.py <sfDir> <outDir-with-oracle_sql.json> [query...]
"""
import json, sys, glob, os
import duckdb
import numpy as np

from canon import canon

argv = [a for a in sys.argv[1:]]
sfdir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.01"
outdir = argv[1] if len(argv) > 1 else "/tmp/verify_out"
only = set(argv[2:])

con_a = duckdb.connect()
con_b = duckdb.connect()
for f in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(f).replace(".parquet", "")
    cols = [r[0] for r in duckdb.connect().execute(
        f"DESCRIBE SELECT * FROM read_parquet('{f}')").fetchall()]
    con_a.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    # perturbed scan order: a forced hash-sort before every consumer —
    # deterministic, but a completely different delivery order than the
    # file's, which is what perturbs unordered float aggregations
    order = ", ".join(f"hash({c})" for c in cols[:3])
    con_b.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                  f"(SELECT * FROM read_parquet('{f}') ORDER BY {order})")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

lucky, errors, ok = [], [], 0
for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    try:
        a = canon(con_a.execute(sql).df(), strict=True)  # the driver's grid
        b = canon(con_b.execute(sql).df(), strict=True)
    except Exception as e:
        errors.append(name)
        print(f"ERR  {name}: {e}")
        continue
    same = a.shape == b.shape and all(
        ((a[c].isna() & b[c].isna()) |
         (a[c] == b[c]) |
         (np.isclose(a[c].astype(float), b[c].astype(float), rtol=0, atol=0)
          if np.issubdtype(a[c].dtype, np.floating) else False)).all()
        for c in a.columns) if a.shape == b.shape else False
    if same:
        ok += 1
    else:
        lucky.append(name)
        if a.shape != b.shape:
            print(f"LUCK {name}: shape {a.shape} vs {b.shape}")
        else:
            for c in a.columns:
                m = ~((a[c].isna() & b[c].isna()) | (a[c] == b[c]))
                if m.any():
                    print(f"LUCK {name}: column {c}, {int(m.sum())} cells, "
                          f"e.g. {a[c][m].iloc[0]} vs {b[c][m].iloc[0]}")
                    break

print(f"\n{ok} order-invariant, {len(lucky)} order-SENSITIVE, "
      f"{len(errors)} errors")
if lucky:
    print("order-sensitive (green by luck — fix before a driver "
          f"environment flips them): {lucky}")
sys.exit(1 if (lucky or errors) else 0)
