#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: check_correctness.py <sf_dir> <verify_out_dir>

Registers the testdata parquet as views, runs each oracle_sql.json entry,
and compares against the Spark parquet dumped by graft.Verify: columns
sorted by name, exact match on non-floats, tolerant (1e-9 rel) on floats —
then reports per-query OK/MISMATCH with a diff sample. Stricter than the
driver (which hashes): float columns must ALSO match exactly after the
query-side rounding, so exact mismatches are reported even when within
tolerance.
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def connect(sf_dir):
    """A DuckDB connection with one view per table of `sf_dir` that exists."""
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single parquet FILES; ScaleGen writes
        # Spark parquet DIRECTORIES — glob inside those
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con

def main(sf_dir, out_dir, only=None, skip=None):
    con = connect(sf_dir)
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    if only:
        oracle = {k: v for k, v in oracle.items() if k in only}
    if skip:
        oracle = {k: v for k, v in oracle.items() if k not in skip}
    results = {}
    for name in sorted(oracle):
        sql = oracle[name]
        pq = os.path.join(out_dir, name)
        if not glob.glob(pq + "/*.parquet"):
            results[name] = "NO_SPARK_OUTPUT"
            continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"
            continue
        sdf = duckdb.sql(f"SELECT * FROM read_parquet('{pq}/*.parquet')").fetchdf()
        results[name] = compare(name, odf, sdf)
    n_ok = sum(1 for v in results.values() if v == "OK")
    for name, v in results.items():
        print(f"{'OK ' if v=='OK' else 'FAIL'} {name}" + ("" if v == "OK" else f" :: {v}"))
    print(f"\n{n_ok}/{len(results)} oracle queries match")
    return 0 if n_ok == len(results) else 1

def compare(name, odf, sdf):
    o = odf[sorted(odf.columns)]
    s = sdf[sorted(sdf.columns)]
    if list(o.columns) != list(s.columns):
        return f"COLUMNS oracle={list(o.columns)} spark={list(s.columns)}"
    if len(o) != len(s):
        return f"ROWS oracle={len(o)} spark={len(s)}"
    for c in o.columns:
        ov, sv = o[c].values, s[c].values
        try:
            if ov.dtype.kind == "f" or sv.dtype.kind == "f":
                ovf = ov.astype(float); svf = sv.astype(float)
                both_nan = np.isnan(ovf) & np.isnan(svf)
                # the driver hashes raw bytes, so -0.0 vs +0.0 (==-equal)
                # is a driver FAIL — flag sign-of-zero mismatches too
                zsign = (ovf == 0.0) & (svf == 0.0) & \
                    (np.signbit(ovf) != np.signbit(svf))
                if zsign.any():
                    i = int(np.argmax(zsign))
                    return (f"SIGNED_ZERO col={c} row={i} oracle={ovf[i]!r} "
                            f"spark={svf[i]!r} (n_diff={int(zsign.sum())})")
                exact = (ovf == svf) | both_nan
                if not exact.all():
                    close = np.isclose(ovf, svf, rtol=1e-9, atol=1e-12, equal_nan=True)
                    i = int(np.argmin(exact))
                    tag = "FLOAT_EXACT" if close.all() else "FLOAT"
                    return (f"{tag} col={c} row={i} oracle={ovf[i]!r} spark={svf[i]!r} "
                            f"(n_diff={int((~exact).sum())})")
            else:
                ovn = pd.Series(ov).astype(object).where(pd.Series(ov).notna(), None)
                svn = pd.Series(sv).astype(object).where(pd.Series(sv).notna(), None)
                neq = [i for i in range(len(ovn)) if ovn[i] != svn[i]]
                if neq:
                    i = neq[0]
                    return f"VALUE col={c} row={i} oracle={ovn[i]!r} spark={svn[i]!r} (n_diff={len(neq)})"
        except Exception as e:
            return f"COMPARE_ERROR col={c}: {e}"
    return "OK"

if __name__ == "__main__":
    # usage: check_correctness.py <sf_dir> <out_dir> [--only a,b] [--skip c,d]
    # --skip matters for gapped-sf1 sweeps, where a few oracles (the
    # recursive-CTE BPE learner especially) cost most of the wall time
    only = skip = None
    args = sys.argv[1:]
    pos = []
    i = 0
    while i < len(args):
        if args[i] == "--only":
            only = set(args[i + 1].split(",")); i += 2
        elif args[i] == "--skip":
            skip = set(args[i + 1].split(",")); i += 2
        else:
            pos.append(args[i]); i += 1
    sys.exit(main(pos[0], pos[1], only=only, skip=skip))
