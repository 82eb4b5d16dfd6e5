"""Output check for batch results against the engine's DuckDB oracle.

Each query in `SparkEntry.oracleSql` has equivalent ANSI SQL; it runs in
DuckDB over the same parquet tables, and the engine's collected result
must match it cell for cell. The canonical form follows the repository's
correctness gate (`tools/compare.py`): columns sorted by name, rows in
result order, integer-versus-float columns fatal, NaN equal to NaN, and
lists compared element-wise.
"""
import hashlib
import math
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    return df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)


def values_equal(a, b) -> bool:
    if a is b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if isinstance(a, (list, tuple)) or type(a).__name__ == "ndarray":
        la, lb = list(a), list(b)
        return len(la) == len(lb) and all(values_equal(x, y) for x, y in zip(la, lb))
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def diff(got: pd.DataFrame, want: pd.DataFrame):
    """None when the frames match canonically, else a one-line reason."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        gi, wi = pd.api.types.is_integer_dtype(got[c]), pd.api.types.is_integer_dtype(want[c])
        gf, wf = pd.api.types.is_float_dtype(got[c]), pd.api.types.is_float_dtype(want[c])
        if (gi and wf) or (gf and wi):
            return f"column {c}: {got[c].dtype} vs {want[c].dtype}"
    for c in got.columns:
        if same_column(got[c], want[c]):
            continue
        for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not values_equal(a, b):
                return f"column {c} row {i}: {a!r} != {b!r}"
    return None


def same_column(a: pd.Series, b: pd.Series) -> bool:
    """Whole-column fast path; False means "compare cell by cell"."""
    if a.dtype.kind == "M" and b.dtype.kind == "M":
        # Timestamps compare as instants whatever their stored unit.
        return bool(np.array_equal(a.to_numpy().astype("datetime64[ns]"),
                                   b.to_numpy().astype("datetime64[ns]")))
    if a.dtype != b.dtype:
        return False
    if a.dtype.kind in "biuf":
        return bool(np.array_equal(a.to_numpy(), b.to_numpy(), equal_nan=a.dtype.kind == "f"))
    if a.dtype.kind == "O" and a.map(type).isin((str,)).all() and b.map(type).isin((str,)).all():
        return a.tolist() == b.tolist()
    return False


def check(tables: Path, results: Path, oracle_sql: dict, cache: Path) -> dict:
    """Maps each query to None (matches the oracle) or a failure reason.

    An oracle result depends only on its SQL and the tables, so it is
    kept in `cache` under a digest of both; the staged tables never
    change once written.
    """
    con = None
    stamp = (tables / "_COMPLETE").read_text()
    cache.mkdir(parents=True, exist_ok=True)
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        mine = results / name
        if not mine.is_dir():
            out[name] = "no engine result"
            continue
        key = cache / (hashlib.sha256(f"{tables}\n{stamp}\n{sql}".encode()).hexdigest() + ".pkl")
        if key.exists():
            want = pd.read_pickle(key)
        else:
            if con is None:
                con = duckdb.connect()
                for t in sorted(tables.glob("*.parquet")):
                    con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
            try:
                want = con.execute(sql).fetchdf()
            except Exception as e:  # an oracle that cannot run is a failed check
                out[name] = f"oracle error: {str(e).splitlines()[0][:200]}"
                continue
            want.to_pickle(key)
        out[name] = diff(pd.read_parquet(mine), want)
    return out
