"""Local emulation of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, schema
(column names) and order-insensitive values — including a pandas value-hash
that is DTYPE-SENSITIVE like the driver's (int64 150 vs float64 150.0 must
fail, exactly as it did in round 1).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from feathr_online_spark.session import get_spark

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def pandas_hash(df: pd.DataFrame):
    """Driver-style canonicalization: sort columns by name, sort rows by all
    columns, hash values.  Raises on unhashable cells (ndarray) like the
    driver's pandas sort does — that IS the signal we need locally."""
    d = df[sorted(df.columns)].copy()
    d = d.sort_values(by=list(d.columns), kind="mergesort").reset_index(drop=True)
    # round floats so engine ulp noise doesn't flip the hash; dtype preserved
    for c in d.columns:
        if d[c].dtype.kind == "f":
            d[c] = d[c].round(4)
    return pd.util.hash_pandas_object(d, index=False).sum()


def check(spark, con, sf_dir, fn, oracle):
    """(ok, report lines) of one query against its oracle SQL (None: the
    rows-only check).  Unindented lines are printed after the gate key."""
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    spdf = sdf.toPandas()
    srows = [tuple(r) for r in spdf.itertuples(index=False)]
    if oracle is None:
        # rows-only, but still exercise the driver's canonicalizer so
        # ndarray cells crash HERE, not in the driver
        try:
            pandas_hash(spdf)
            return True, [f"rows-only check — {len(srows)} rows (canon ok)"]
        except Exception as e:
            return False, [f"rows-only CANON CRASH — {type(e).__name__}: {e}"]
    lines = []
    dpdf = con.execute(oracle).df()
    dcols = list(dpdf.columns)
    drows = [tuple(r) for r in dpdf.itertuples(index=False)]
    ok_schema = sorted(scols) == sorted(dcols)
    ok_count = len(srows) == len(drows)
    ok_vals = False
    ok_hash = False
    if ok_schema and ok_count:
        ok_vals = canon(srows, scols) == canon(drows, dcols)
        try:
            ok_hash = pandas_hash(spdf) == pandas_hash(dpdf)
        except Exception as e:
            lines.append(f"CANON CRASH — {type(e).__name__}: {e}")
    ok = ok_schema and ok_count and ok_vals and ok_hash
    lines.append(f"{'OK' if ok else 'FAIL'}  rows={len(srows)}/{len(drows)} "
                 f"schema={'✓' if ok_schema else f'{sorted(scols)} vs {sorted(dcols)}'} "
                 f"vals={'✓' if ok_vals else '✗'} hash={'✓' if ok_hash else '✗'}")
    if not ok and ok_schema and ok_count:
        if not ok_vals:
            a, b = canon(srows, scols), canon(drows, dcols)
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            for x, y in diffs:
                lines.append(f"    spark: {x}\n    duck:  {y}")
        elif not ok_hash:
            sd = spdf[sorted(spdf.columns)].dtypes
            dd = dpdf[sorted(dpdf.columns)].dtypes
            for c in sorted(spdf.columns):
                if str(sd[c]) != str(dd[c]):
                    lines.append(f"    dtype {c}: spark={sd[c]} duck={dd[c]}")
    return ok, lines


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            # a Spark-written table is a DIRECTORY of part files (e.g. the
            # synthesized .fixtures/sf1); glob them for DuckDB
            p = f"{p}/*.parquet"
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # gate keys that alias one (query, oracle) pair run once and share lines
    results = {}
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        key = (fn, oracles.get(name))
        if key not in results:
            results[key] = check(spark, con, sf_dir, fn, key[1])
        ok, lines = results[key]
        failures += not ok
        for line in lines:
            print(line if line.startswith(" ") else f"{name:>22}: {line}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
