#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row-count, schema (column names), and order-insensitive values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...] [--json PATH]

``--json PATH`` also writes one record per query: ``query``, ``ok`` (true,
false, or null for a query without an oracle), Spark ``rows``, Spark
``seconds`` and the ``problems`` found.
"""

from __future__ import annotations

import json
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"schema mismatch: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c], b[c]
            if av.dtype.kind != bv.dtype.kind and "f" in (av.dtype.kind, bv.dtype.kind):
                # The driver hashes raw values: 908 vs 908.0 is a mismatch
                # even when numerically equal (seen in round 2's f1_report).
                problems.append(
                    f"col {c}: dtype kind mismatch spark={av.dtype} duck={bv.dtype}"
                )
                continue
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                ok = np.allclose(
                    av.astype(float), bv.astype(float), rtol=0, atol=0, equal_nan=True
                )
                if not ok:
                    diff = (av.astype(float) - bv.astype(float)).abs()
                    problems.append(
                        f"col {c}: {int((diff > 0).sum())} float diffs, max={diff.max():.3e}"
                    )
            else:
                neq = (av.astype(str) != bv.astype(str))
                if neq.any():
                    i = int(neq.idxmax())
                    problems.append(
                        f"col {c}: {int(neq.sum())} value diffs, first at row {i}: "
                        f"spark={av.iloc[i]!r} duck={bv.iloc[i]!r}"
                    )
    return problems


def main() -> int:
    json_path = None
    if "--json" in sys.argv:
        i = sys.argv.index("--json")
        json_path = sys.argv[i + 1]
        del sys.argv[i : i + 2]
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from text_extensions_for_pandas_spark import get_spark

    spark = get_spark("check-oracle")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    records = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {"query": name, "ok": False, "rows": None, "seconds": None}
        records.append(rec)
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            rec["problems"] = [f"spark error: {type(e).__name__}: {str(e)[:200]}"]
            print(f"FAIL  {name}: {rec['problems'][0]}")
            continue
        rec["rows"], rec["seconds"] = len(spark_pdf), round(time.time() - t0, 3)
        took = f"{rec['seconds']:.1f}s"
        if name not in oracles:
            rec["ok"] = None
            print(f"weak  {name}: rows={len(spark_pdf)} ({took}, no oracle)")
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            rec["problems"] = [f"duckdb error: {type(e).__name__}: {str(e)[:200]}"]
            print(f"FAIL  {name}: {rec['problems'][0]}")
            continue
        rec["problems"] = compare(spark_pdf, duck_pdf)
        rec["ok"] = not rec["problems"]
        if rec["problems"]:
            print(f"FAIL  {name}: rows={len(spark_pdf)}/{len(duck_pdf)} ({took})")
            for p in rec["problems"]:
                print(f"      - {p}")
        else:
            print(f"ok    {name}: rows={len(spark_pdf)} ({took})")
    spark.stop()
    if json_path:
        with open(json_path, "w") as f:
            json.dump(records, f, indent=1)
    n_fail = sum(r["ok"] is False for r in records)
    print("ALL OK" if n_fail == 0 else f"{n_fail} FAILURES")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
