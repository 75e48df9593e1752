#!/usr/bin/env python
"""Local stand-in for the driver's verify: runs entry(spark) as a
smoke check, then each queries()[name] at the given sf against its
oracle_sql()[name] in DuckDB — row-count + column names + sorted
value comparison. Usage: python tools/check_contract.py [sf_dir] [name...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from hope_graph_builder_spark.session import get_spark

    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))

    res = entrymod.entry(spark)
    n = res.count()
    print(f"entry(): OK rows={n} schema={[f.name for f in res.schema.fields]}")
    assert n >= 0

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sp = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"{name}: SPARK ERROR {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"{name}: rows-only check, rows={len(sp)}")
            continue
        du = con.sql(oracles[name]).df()
        a, b = norm(sp), norm(du)
        if list(a.columns) != list(b.columns):
            print(f"{name}: COLUMN MISMATCH {list(a.columns)} vs {list(b.columns)}")
            failed.append(name)
            continue
        if len(a) != len(b):
            print(f"{name}: ROWCOUNT MISMATCH spark={len(a)} duck={len(b)}")
            failed.append(name)
            continue
        ok = True
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                eq = (pd.isna(av) & pd.isna(bv)) | (av == bv)
            else:
                eq = (pd.Series(av).astype(object).where(~pd.isna(av), None)
                      == pd.Series(bv).astype(object).where(~pd.isna(bv), None)).to_numpy()
                eq = eq | (pd.isna(av) & pd.isna(bv))
            if not eq.all():
                bad = int((~eq).sum())
                i = int(np.argmax(~eq))
                print(f"{name}: VALUE MISMATCH col={c} nbad={bad} e.g. row {i}: {av[i]!r} vs {bv[i]!r}")
                ok = False
        if ok:
            print(f"{name}: OK rows={len(a)}")
        else:
            failed.append(name)

    if failed:
        print("FAILED:", failed)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
