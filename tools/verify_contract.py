"""Local stand-in for the driver's correctness gate.

Runs every queries() entry at sf0.01 and compares against oracle_sql()
via DuckDB: row count, column names, and an order-insensitive value
comparison (columns sorted by name, rows sorted, values normalized).
A full run (no query names given) then runs tools/validate_rasterh3.py's
byte-identity check of the tiling kernel (~2-4 min) and fails on a
MISMATCH.

Run:  python tools/verify_contract.py [query ...]
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def norm_pdf(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: v.tolist() if hasattr(v, "tolist") else v
            )
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main(only: list[str] | None = None) -> int:
    import __spark_entry__ as E
    from h3ronpy_spark.session import get_spark

    # VC_MASTER / VC_SHUFFLE let the gate run under different
    # parallelism / partition counts — re-running under several configs
    # demonstrates every contract query is partition-invariant (the
    # engine's determinism contract), not just correct under one layout
    spark = get_spark(
        os.environ.get("VC_MASTER", "local[8]"),
        shuffle_partitions=int(os.environ.get("VC_SHUFFLE", "8")),
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error {ex}")
            fails.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            ok = len(sdf) >= 0
            print(f"rows-only {name}: {len(sdf)} rows  ({dt:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: oracle error {ex}")
            fails.append(name)
            continue
        a, b = norm_pdf(sdf), norm_pdf(odf)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            fails.append(name)
            continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            fails.append(name)
            continue
        try:
            a2 = a.astype(str)
            b2 = b.astype(str)
            eq = a2.equals(b2)
        except Exception:
            eq = False
        if not eq:
            diff = (a2 != b2).any(axis=1)
            print(f"FAIL {name}: value mismatch in {int(diff.sum())}/{len(a)} rows")
            print("  spark:", a[diff].head(3).to_dict("records"))
            print("  oracle:", b[diff].head(3).to_dict("records"))
            fails.append(name)
            continue
        print(f"OK   {name}: {len(a)} rows match  ({dt:.1f}s)")
    spark.stop()
    if not only:
        print()
        check = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "validate_rasterh3.py")
        if subprocess.run([sys.executable, check]).returncode:
            fails.append("validate_rasterh3")
    print()
    print(f"{len(fails)} failures: {fails}" if fails else "ALL MATCH")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
