#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [name,name,...]

Reads each <verifyOutDir>/<name>/ parquet result (from `graft.Verify`) and
the dumped oracle_sql.json, runs each oracle in DuckDB over <sfDir>'s
tables, and compares: schema (column names), row count, and a hash of the
values with columns sorted by name and rows sorted by all columns.

NOTE: this script is a dev-time harness only (driver-side python is fine
here); the shipped engine is pure Scala/Spark.
"""
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for compare: floats rounded to 9 sig-ish decimals
    for c in df.columns:
        if df[c].dtype == "float32":
            df[c] = df[c].astype("float64")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _dtype_class(dt) -> str:
    """Coarse dtype class for strict compare: the driver hashes stringified
    values, so int64 `0` vs float64 `0.0` is a driver-side FAIL that
    check_dtype=False would hide (this exact hazard burned lay_compaction_plan
    for two rounds — DuckDB HUGEINT window-sum -> pandas float64)."""
    kind = getattr(dt, "kind", "O")
    if kind in "iu":
        return "int"
    if kind == "b":
        return "bool"
    if kind == "f":
        return "float"
    return "other"


def dtype_mismatches(got: pd.DataFrame, want: pd.DataFrame):
    # Flag only conflicts BETWEEN numeric classes (int/bool/float): those
    # stringify differently in the driver's value hash ('0' vs '0.0',
    # '1' vs 'True'). int-vs-'other' is NOT a hazard — a DuckDB HUGEINT
    # fetched as a pandas object column of Python ints stringifies
    # identically to int64 (ADVICE r10).
    bad = []
    for c in got.columns:
        g, w = _dtype_class(got[c].dtype), _dtype_class(want[c].dtype)
        if g != w and {g, w} <= {"int", "bool", "float"}:
            bad.append((c, str(got[c].dtype), str(want[c].dtype)))
    return bad


def main(sf_dir: str, out_dir: str, only: str = "") -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    if only:
        names = set(only.split(","))
        # a requested row with no oracle (a typo, or a row the dump does
        # not register) must fail, not silently shrink the checked set
        for name in sorted(names - oracle.keys()):
            print(f"FAIL {name}: no oracle in oracle_sql.json")
            n_fail += 1
        oracle = {k: v for k, v in oracle.items() if k in names}
    for name, sql in sorted(oracle.items()):
        res_dir = Path(out_dir) / name
        if not res_dir.exists():
            print(f"FAIL {name}: no spark result dumped")
            n_fail += 1
            continue
        try:
            got = canon(pd.read_parquet(res_dir))
        except Exception as e:
            print(f"FAIL {name}: cannot read spark result: {e}")
            n_fail += 1
            continue
        try:
            want = canon(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
            continue
        dt_bad = dtype_mismatches(got, want)
        if dt_bad:
            detail = ", ".join(f"{c}: spark {g} vs oracle {w}" for c, g, w in dt_bad)
            print(f"FAIL {name}: dtype class mismatch ({detail}) — "
                  f"driver value-hash would differ even if values are equal")
            n_fail += 1
            continue
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                          check_exact=True)
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        except AssertionError as e:
            print(f"FAIL {name}: value mismatch\n{str(e)[:500]}")
            # show first differing rows for debugging
            neq = (got != want) & ~(got.isna() & want.isna())
            bad = neq.any(axis=1)
            if bad.any():
                i = bad.idxmax()
                print(f"  first diff row {i}:\n  got : {got.loc[i].to_dict()}\n  want: {want.loc[i].to_dict()}")
            n_fail += 1
    print(f"\n{n_pass} passed, {n_fail} failed / {n_pass + n_fail} oracles")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else ""))
