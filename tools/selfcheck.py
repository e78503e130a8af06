"""Local stand-in for the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark AND its oracle_sql() in DuckDB at
sf0.01, compare row count, column names, and order-insensitive values.

Usage: python tools/selfcheck.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SELFCHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(got.columns) != sorted(exp.columns):
        problems.append(f"columns differ: spark={sorted(got.columns)} duck={sorted(exp.columns)}")
        return problems
    if len(got) != len(exp):
        problems.append(f"row count differs: spark={len(got)} duck={len(exp)}")
    g, e = canon(got), canon(exp)
    if len(g) == len(e):
        for c in g.columns:
            gv, ev = g[c], e[c]
            if np.issubdtype(gv.dtype, np.floating) or np.issubdtype(ev.dtype, np.floating):
                bad = ~np.isclose(gv.astype(float), ev.astype(float),
                                  rtol=0, atol=1e-9, equal_nan=True)
            else:
                bad = gv.astype(str).to_numpy() != ev.astype(str).to_numpy()
            if bad.any():
                i = int(np.flatnonzero(bad)[0])
                problems.append(
                    f"value mismatch in '{c}' ({int(bad.sum())} rows), first at row {i}: "
                    f"spark={g[c].iloc[i]!r} duck={e[c].iloc[i]!r}")
    return problems


def main(only: list[str]):
    import __spark_entry__ as E
    from aezspark.session import get_spark

    spark = get_spark("selfcheck", master="local[16]")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = E.queries()
    oracles = E.oracle_sql()
    names = only or list(qs)
    failed = []
    for name in names:
        t0 = time.time()
        try:
            got = qs[name](spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(got)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex).splitlines()[0][:160]}")
            failed.append(name)
            continue
        problems = compare(name, got, exp)
        if problems:
            print(f"FAIL {name} ({len(got)} vs {len(exp)} rows):")
            for p in problems:
                print(f"    {p}")
            failed.append(name)
        else:
            print(f"OK   {name}: {len(got)} rows match ({time.time()-t0:.1f}s)")
    print(f"\n{len(names) - len(failed)}/{len(names)} queries match")
    if failed:
        print("failed:", " ".join(failed))
        sys.exit(1)


if __name__ == "__main__":
    main(sys.argv[1:])
