"""Canonical form of a query result, shared by the local compare
scripts (verify_local.py, verify_order_invariance.py,
verify_digests.py): columns sorted by name, floats rounded (1e-6 under
`strict`, the repo's output-rounding convention; 1e-9 otherwise),
booleans as 0/1, other scalars numeric where they parse, rows sorted.
"""
import numpy as np
import pandas as pd


class NonScalarColumn(Exception):
    pass


def canon(df, strict=False):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            # the driver's compare CRASHES on array/list cells inside
            # sort_values (unhashable ndarray) — r12's q_embed_rp red
            # row. The compare used to stringify them, which is
            # exactly how that divergence hid locally: under strict
            # (the driver mirror), a non-scalar cell is a FAIL here
            # too, so the wire rule can never silently regress.
            if strict and df[c].map(
                    lambda v: isinstance(v, (np.ndarray, list, dict, tuple))
                ).any():
                raise NonScalarColumn(
                    f"column {c!r} holds array/list cells — the driver "
                    f"compare cannot sort these; explode to scalar rows")
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(float).round(6 if strict else 9)
        elif str(df[c].dtype) == 'bool':
            df[c] = df[c].astype(int)
        else:
            try:
                df[c] = pd.to_numeric(df[c])
            except Exception:
                df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), na_position='first').reset_index(drop=True)
    return df
