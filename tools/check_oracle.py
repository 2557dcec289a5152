"""Self-check: run every __spark_entry__ query against its DuckDB oracle
(the driver's t2 gate, approximated). Usage:

    python tools/check_oracle.py [sf_dir [query ...]]

``sf_dir`` defaults to sf0.01 beside $SPARK_GRAFT_SF_DIR; named queries
run alone, and an unknown name exits 2 before any session starts.

Compares row count, sorted column names, and order-insensitive values
(floats to 1e-9 relative). Each query runs inside a lifecycle scope, and
the session must end with an empty CacheManager: a persisted
intermediate that outlives its query is a leak. Exits non-zero on any
mismatch or leak.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

#: the default scale: sf0.01, beside the bench's $SPARK_GRAFT_SF_DIR
SF_DIR = os.path.join(os.path.dirname(bench.SF_DIR.rstrip("/")), "sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"rowcount {len(spark_pdf)} != {len(oracle_pdf)}")
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        problems.append(
            f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
        )
        return problems
    dtype_mism = [
        f"{c}: {spark_pdf[c].dtype} != {oracle_pdf[c].dtype}"
        for c in spark_pdf.columns
        if str(spark_pdf[c].dtype) != str(oracle_pdf[c].dtype)
    ]
    if dtype_mism:
        problems.append("dtypes " + "; ".join(dtype_mism))
    if problems:
        return problems
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            av = pd.to_numeric(a[c], errors="coerce")
            bv = pd.to_numeric(b[c], errors="coerce")
            bad = ~(
                (av.isna() & bv.isna())
                | ((av - bv).abs() <= 1e-9 + 1e-9 * bv.abs())
            )
        else:
            bad = a[c].astype(str) != b[c].astype(str)
        if bad.any():
            i = bad.idxmax()
            problems.append(
                f"value mismatch col={c} row={i}: {a[c][i]!r} != {b[c][i]!r}"
            )
            break
    return problems


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    sf_dir = argv[0] if argv else SF_DIR
    only = set(argv[1:])

    import __spark_entry__ as entry_mod
    from ftm_columnstore_spark.lifecycle import scope
    from ftm_columnstore_spark.session import get_spark

    queries = entry_mod.queries()
    unknown = sorted(only - set(queries))
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2
    if only:
        queries = {k: v for k, v in queries.items() if k in only}

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        try:
            with scope():
                spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spark_pdf)} rows)")
            continue
        try:
            oracle_pdf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {exc}")
            failures += 1
            continue
        problems = compare(name, spark_pdf, oracle_pdf)
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures += 1
        else:
            print(f"ok   {name}: {len(spark_pdf)} rows match")
    print(f"\n{len(queries) - failures}/{len(queries)} ok")
    cache_empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    print(f"CacheManager empty: {cache_empty}")
    return 1 if failures or not cache_empty else 0


if __name__ == "__main__":
    raise SystemExit(main())
