#!/usr/bin/env python3
"""Compare two graft.Verify dumps by canonical digest.

Each query's parquet output is put in the strict canonical form of
canon.py (columns sorted by name, doubles rounded to 1e-6, rows sorted)
and hashed. Queries whose digests differ, or that exist in only one
dump, are listed; the exit code is 1 when any query differs.

Usage: verify_digests.py <dumpA> <dumpB>
"""
import hashlib
import os
import sys

import pandas as pd

from canon import canon


def digest(path):
    df = canon(pd.read_parquet(path), strict=True)
    h = hashlib.sha256(repr(list(df.columns)).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return len(df), h.hexdigest()


def queries(d):
    return {q for q in os.listdir(d) if os.path.isdir(os.path.join(d, q))}


a, b = sys.argv[1], sys.argv[2]
names = sorted(queries(a) | queries(b))
bad = 0
for q in names:
    pa, pb = os.path.join(a, q), os.path.join(b, q)
    if not (os.path.isdir(pa) and os.path.isdir(pb)):
        print(f"MISSING {q}: only in {a if os.path.isdir(pa) else b}")
        bad += 1
        continue
    da, db = digest(pa), digest(pb)
    if da != db:
        print(f"DIFF {q}: rows {da[0]} vs {db[0]}")
        bad += 1
print(f"{len(names) - bad}/{len(names)} identical")
sys.exit(1 if bad else 0)
