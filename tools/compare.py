#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate: run graft.Verify at a
scale factor, then execute each oracle_sql.json query in DuckDB over the
same parquet tables and diff against the Spark parquet output.

Usage: python3 tools/compare.py [sfdir] [outdir] [q1,q2,...] [--skip-verify]

With a query list, Verify runs only those queries (its third argument)
and only those are diffed: the inner loop for re-gating one changed
operator. Exit 0 iff every diffed query passes.
"""
import json, math, os, subprocess, sys
from pathlib import Path

import duckdb
import pandas as pd

SKIP_VERIFY = "--skip-verify" in sys.argv
sys.argv = [a for a in sys.argv if a != "--skip-verify"]
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
OUT = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out")
ONLY = sys.argv[3] if len(sys.argv) > 3 else None
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

if not SKIP_VERIFY:
    # Default covers the single-posture gates; the COMBINED posture
    # (SPARK_GRAFT_AQE=1 SPARK_GRAFT_ROCKSDB=1 — 200 state partitions,
    # each a RocksDB instance per drain) legitimately needs ~2x, so the
    # knob exists rather than a blanket doubling that would let a hung
    # normal gate sit twice as long before surfacing.
    verify_timeout = int(os.environ.get("GRAFT_VERIFY_TIMEOUT", "1800"))
    (OUT / "failures.json").unlink(missing_ok=True)
    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Verify {SF} {OUT}" + (f" {ONLY}" if ONLY else "")],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True, text=True,
        timeout=verify_timeout)
    tail = "\n".join((r.stdout + r.stderr).splitlines()[-30:])
    if r.returncode != 0:
        print(f"VERIFY FAILED (exit {r.returncode}):\n", tail)
        failures = OUT / "failures.json"
        if failures.exists():
            for name, msg in json.loads(failures.read_text()).items():
                print(f"FAIL {name}: verify error: {(msg.splitlines() or [''])[0][:200]}")
        sys.exit(1)
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.loads((OUT / "oracle_sql.json").read_text())

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)

def values_equal(a, b) -> bool:
    if a is b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if isinstance(a, (list, tuple)) or str(type(a)).find("ndarray") >= 0:
        la, lb = list(a), list(b)
        return len(la) == len(lb) and all(values_equal(x, y) for x, y in zip(la, lb))
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b

n_pass = n_fail = 0
names = (ONLY.split(",") if ONLY else
         sorted(set(list(oracle.keys()) + [p.name for p in OUT.iterdir() if p.is_dir()])))
for name in names:
    spark_dir = OUT / name
    if not spark_dir.is_dir():
        print(f"FAIL {name}: no spark output"); n_fail += 1; continue
    try:
        sdf = pd.read_parquet(spark_dir)
    except Exception as e:
        print(f"FAIL {name}: unreadable spark output: {e}"); n_fail += 1; continue
    if name not in oracle:
        print(f"ROWS {name}: rows={len(sdf)} (rows-only check)")
        continue
    try:
        odf = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: oracle error: {str(e).splitlines()[0][:200]}"); n_fail += 1; continue
    sdf, odf = canon(sdf), canon(odf)
    if list(sdf.columns) != list(odf.columns):
        print(f"FAIL {name}: columns spark={list(sdf.columns)} oracle={list(odf.columns)}")
        n_fail += 1; continue
    if len(sdf) != len(odf):
        print(f"FAIL {name}: rowcount spark={len(sdf)} oracle={len(odf)}")
        n_fail += 1; continue
    # The driver hashes typed values: an int column on one side vs a float
    # column on the other (e.g. DuckDB promoting sum(BIGINT) to HUGEINT,
    # which fetchdf renders as float64) hash-mismatches even when the
    # values are numerically equal. Timestamp resolution (ns vs us) and
    # integer width (int32 vs int64) are normalized by the driver - only
    # the int-vs-float axis is fatal.
    dtype_bad = None
    for c in sdf.columns:
        si = pd.api.types.is_integer_dtype(sdf[c])
        oi = pd.api.types.is_integer_dtype(odf[c])
        sf_ = pd.api.types.is_float_dtype(sdf[c])
        of_ = pd.api.types.is_float_dtype(odf[c])
        if (si and of_) or (sf_ and oi):
            dtype_bad = (c, sdf[c].dtype, odf[c].dtype); break
    if dtype_bad:
        c, st, ot = dtype_bad
        print(f"FAIL {name}: dtype col={c} spark={st} oracle={ot} (int vs float)")
        n_fail += 1; continue
    bad = None
    for c in sdf.columns:
        sv, ov = sdf[c].tolist(), odf[c].tolist()
        for i, (a, b) in enumerate(zip(sv, ov)):
            if not values_equal(a, b):
                bad = (c, i, a, b); break
        if bad: break
    if bad:
        c, i, a, b = bad
        print(f"FAIL {name}: col={c} row={i} spark={a!r} oracle={b!r}")
        n_fail += 1
    else:
        print(f"PASS {name}: rows={len(sdf)}")
        n_pass += 1

print(f"\n{n_pass} pass, {n_fail} fail")
sys.exit(1 if n_fail else 0)
