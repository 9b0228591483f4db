"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at the given SF, compares row count, column names, and values
(order-insensitive: rows sorted by all columns, exact cell equality;
floats reported with max abs diff when not exact).

Usage: python tools/check_correctness.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for col in s.columns:
        sv, dv = s[col], d[col]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
            sv = sv.astype(float)
            dv = dv.astype(float)
            both_nan = sv.isna() & dv.isna()
            eq = (sv == dv) | both_nan
            if not eq.all():
                diff = (sv - dv).abs()
                problems.append(
                    f"col {col}: {int((~eq).sum())}/{len(eq)} cells differ, max abs diff={np.nanmax(diff):.3e}"
                )
        else:
            sv2 = sv.astype(object).where(pd.notna(sv), None)
            dv2 = dv.astype(object).where(pd.notna(dv), None)
            neq = [i for i, (a, b) in enumerate(zip(sv2, dv2)) if a != b]
            if neq:
                i = neq[0]
                problems.append(
                    f"col {col}: {len(neq)}/{len(sv2)} cells differ, e.g. row {i}: spark={sv2[i]!r} duck={dv2[i]!r}"
                )
    return problems


def main():
    sf_dir = os.path.abspath(SF_DIR)
    import __spark_entry__ as entry_mod
    from aws_greengrass_labs_database_influxdb_spark.session import get_spark

    spark = get_spark(app_name="check_correctness")
    con = duck_con(sf_dir)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception:
            print(f"FAIL {name}: SPARK ERROR\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"WEAK {name}: rows={len(spark_pdf)} (no oracle) [{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: DUCKDB ERROR\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL {name}: rows={len(spark_pdf)} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"   {p}")
            n_fail += 1
        else:
            print(f"PASS {name}: rows={len(spark_pdf)} [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
