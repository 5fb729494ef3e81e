"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at the given sf dir,
compare row count + exact values (columns sorted by name, rows sorted).

Usage: python tools/check_correctness.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import os
import sys
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(np.float64)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype(np.int64)
        elif df[c].dtype == bool:
            df[c] = df[c].astype(bool)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(name, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        return [f"row count {len(sdf)} vs {len(odf)}"]
    s, o = normalize(sdf), normalize(odf)
    if list(s.columns) != list(o.columns):
        return [f"columns {list(s.columns)} vs {list(o.columns)}"]
    for c in s.columns:
        sv, ov = s[c].to_numpy(), o[c].to_numpy()
        if np.issubdtype(sv.dtype, np.floating):
            neq = ~((sv == ov) | (np.isnan(sv) & np.isnan(ov)))
        else:
            neq = sv != ov
        n_bad = int(np.sum(neq))
        if n_bad:
            i = int(np.argmax(neq))
            problems.append(f"col {c}: {n_bad} mismatches, e.g. {sv[i]!r} vs {ov[i]!r}")
    return problems


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]

    import __spark_entry__ as E
    from osm2ch_spark import get_spark

    spark = get_spark(app_name="check", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    names = [n for n in qs if not filters or any(f in n for f in filters)]
    n_pass = n_fail = n_rows_only = 0
    for name in sorted(names):
        try:
            sdf = qs[name](spark, sf).toPandas()
        except Exception:
            print(f"FAIL  {name}: SPARK ERROR")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        if name not in oracles:
            ok = len(sdf) >= 0
            print(f"rows  {name}: {len(sdf)} rows (no oracle)")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL  {name}: DUCKDB ERROR {str(ex)[:200]}")
            n_fail += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"pass  {name}: {len(sdf)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only of {len(names)}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
