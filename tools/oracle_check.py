"""Local replica of the driver's Spark-vs-DuckDB oracle cross-check.

Runs every queries() entry at a given sf dir, runs its oracle_sql() in DuckDB
over the same parquet (tables pre-registered as views), and compares:
row count, sorted column names, and order-insensitive values (sorted rows).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"schema spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if av.dtype.kind != bv.dtype.kind:
                # the driver hashes raw dtypes: int64 vs float64 with equal
                # values still hash-mismatches (the lang_quality_agg r1 bug)
                problems.append(f"col {c}: dtype-class spark={av.dtype} duck={bv.dtype}")
                continue
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                ok = np.array_equal(
                    av.astype(np.float64), bv.astype(np.float64), equal_nan=True
                )
                if not ok:
                    close = np.allclose(av.astype(np.float64), bv.astype(np.float64), rtol=1e-12, equal_nan=True)
                    problems.append(f"col {c}: exact-mismatch (allclose={close})")
            else:
                if not (av == bv).all():
                    bad = np.nonzero(av != bv)[0][:3]
                    problems.append(f"col {c}: {[(av[i], bv[i]) for i in bad]}")
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as E
    from pgsql2osm_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    spark = get_spark(
        app="oracle_check", master=f"local[{cpus}]", shuffle_partitions=cpus * 2
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs = E.queries()
    oracles = E.oracle_sql()
    sf_pinned = getattr(E, "SF_PINNED_ORACLES", set())
    at_golden_sf = sf_dir.rstrip("/").endswith("sf0.01")
    n_ok = n_bad = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in sf_pinned and not at_golden_sf:
            print(f"SKIP  {name}: golden oracle pinned at sf0.01")
            continue
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error {type(ex).__name__}: {str(ex)[:200]}")
            n_bad += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spark_pdf)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error {type(ex).__name__}: {str(ex)[:200]}")
            n_bad += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL  {name}: {problems}")
            n_bad += 1
        else:
            print(f"OK    {name}: {len(spark_pdf)} rows")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} failed, {n_rowsonly} rows-only")
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
