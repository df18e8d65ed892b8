"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() in DuckDB at sf0.01, canonicalize both
sides the way the driver does (columns sorted by name, rows sorted by all
columns, pandas dtype + exact values), and diff.

Spark runs at local[N] with N shuffle partitions, N = $SPARK_GRAFT_CPUS,
or the CPUs this process may run on (what ``nproc`` prints) when unset.

Usage: python tools/check_gate.py [sf_dir] [name...]
"""

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entry
from chronon_spark.session import build_session

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    # mirror the driver: sort rows by every column (hash is order-free only
    # because both sides sort identically)
    sort_keys = [c for c in df.columns]
    key_frame = df.copy()
    for c in key_frame.columns:
        if key_frame[c].dtype == object:
            key_frame[c] = key_frame[c].map(lambda v: "" if v is None else str(v))
    order = key_frame.sort_values(by=sort_keys, kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def dtype_norm(dt) -> str:
    """Width-insensitive dtype class, mirroring pandas value hashing:
    hash_pandas_object hashes all int widths as the same uint64 value, but
    int vs float (52 vs 52.0) hash differently."""
    s = str(dt)
    if s.startswith("datetime64"):
        return "datetime"
    if s.startswith(("int", "uint", "Int", "UInt")):
        return "int"
    if s.startswith(("float", "Float")):
        return "float"
    return s


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) or pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if isinstance(a, (np.integer, int)) and isinstance(b, (np.integer, int)):
        return int(a) == int(b)
    return a == b


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    spark = build_session(app_name="gate", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    con.execute("PRAGMA threads=8")
    # second connection pinned to 1 thread: DuckDB's parallel aggregation
    # sums floats in a different order per thread count, so any oracle whose
    # hash depends on summation order (the r4 bootstrap_label_join flake)
    # shows up here as DET-FLAKY instead of at the driver.
    con1 = duckdb.connect()
    con1.execute("PRAGMA threads=1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        con1.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = canon(fn(spark, sf).toPandas())
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error {str(e)[:500]}")
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(got)} rows)")
            if len(got) == 0:
                failures.append((name, "0 rows"))
            continue
        try:
            exp = canon(con.execute(oracles[name]).df())
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error {str(e)[:500]}")
            continue
        if list(got.columns) != list(exp.columns):
            failures.append((name, f"schema {list(got.columns)} vs {list(exp.columns)}"))
            print(f"FAIL  {name}: schema {list(got.columns)} vs {list(exp.columns)}")
            continue
        if len(got) != len(exp):
            failures.append((name, f"rowcount {len(got)} vs {len(exp)}"))
            print(f"FAIL  {name}: rowcount {len(got)} vs {len(exp)}")
            continue
        bad = None
        for c in got.columns:
            gd, ed = dtype_norm(got[c].dtype), dtype_norm(exp[c].dtype)
            if gd != ed:
                bad = f"dtype[{c}] {gd} vs {ed}"
                break
            gv, ev = got[c].to_numpy(), exp[c].to_numpy()
            if got[c].dtype == object or str(got[c].dtype).startswith("datetime"):
                mism = [i for i in range(len(gv)) if not values_equal(gv[i], ev[i])]
            else:
                eq = (gv == ev) | (pd.isna(gv) & pd.isna(ev))
                mism = np.nonzero(~eq)[0].tolist()
            if mism:
                i = mism[0]
                bad = f"{len(mism)} mismatches in [{c}]; first at row {i}: got {gv[i]!r} exp {ev[i]!r} | row got={got.iloc[i].to_dict()} exp={exp.iloc[i].to_dict()}"
                break
        if bad:
            failures.append((name, bad))
            print(f"FAIL  {name}: {bad[:600]}")
            continue
        # determinism probe: same oracle under threads=1 must produce the
        # exact same canonical values as threads=8
        try:
            exp1 = canon(con1.execute(oracles[name]).df())
        except Exception as e:
            failures.append((name, f"DET-PROBE ERROR: {e}"))
            print(f"FAIL  {name}: det-probe error {str(e)[:300]}")
            continue
        det_bad = None
        if len(exp1) != len(exp):
            det_bad = f"rowcount {len(exp1)} vs {len(exp)}"
        else:
            for c in exp.columns:
                ev8, ev1 = exp[c].to_numpy(), exp1[c].to_numpy()
                if exp[c].dtype == object or str(exp[c].dtype).startswith("datetime"):
                    mism = [i for i in range(len(ev8)) if not values_equal(ev8[i], ev1[i])]
                else:
                    eq = (ev8 == ev1) | (pd.isna(ev8) & pd.isna(ev1))
                    mism = np.nonzero(~eq)[0].tolist()
                if mism:
                    i = mism[0]
                    det_bad = f"[{c}] row {i}: t8={ev8[i]!r} t1={ev1[i]!r}"
                    break
        if det_bad:
            failures.append((name, f"DET-FLAKY: {det_bad}"))
            print(f"FAIL  {name}: DET-FLAKY oracle differs across thread counts: {det_bad[:400]}")
        else:
            print(f"PASS  {name}: {len(got)} rows (det-stable)")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {[f[0] for f in failures]}")
        sys.exit(1)
    print("ALL PASS")


if __name__ == "__main__":
    main()
