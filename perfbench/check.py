"""Output check for the batch workload: each query's collected output
against its DuckDB oracle SQL on the same input tables, with the value
comparison of the engine's correctness gate (tools/check.py): same column
set, same row count, floats within 1e-9 absolute, everything else equal
(NULLs equal). A query without an oracle must return at least one row."""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd


def _load(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _differs(got, exp):
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return f"columns differ: got {gc}, oracle {ec}"
    g, e = got[gc].reset_index(drop=True), exp[gc].reset_index(drop=True)
    if len(g) != len(e):
        return f"rows differ: got {len(g)}, oracle {len(e)}"
    for c in gc:
        a, b = g[c], e[c]
        if a.dtype.kind in "fc" or b.dtype.kind in "fc":
            same = np.allclose(a.astype(float), b.astype(float), rtol=0, atol=1e-9,
                               equal_nan=True)
        else:
            same = bool((a.astype(object).where(a.notna(), "<NULL>") ==
                         b.astype(object).where(b.notna(), "<NULL>")).all())
        if not same:
            return f"column {c} differs"
    return None


def compare(data_dir, results_dir):
    """Return [(query, None if it matched else the reason)]."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    out = []
    names = sorted(d for d in os.listdir(results_dir)
                   if os.path.isdir(os.path.join(results_dir, d)))
    for name in names:
        got = _load(os.path.join(results_dir, name))
        if name not in oracles:
            out.append((name, None if got is not None and len(got) > 0 else "no rows"))
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            out.append((name, f"oracle error: {e}"))
            continue
        try:
            out.append((name, _differs(got, exp) if got is not None else "no output"))
        except Exception as e:
            out.append((name, f"compare error: {e}"))
    return out
