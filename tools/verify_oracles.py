"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its DuckDB oracle on the same
parquet tables, compares row counts + column names + order-insensitive
values. A query's registered setup (its standing artifact) runs untimed
before the query is built, as in bench.py and tools/sf1_smoke.py. Usage:

    python tools/verify_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted canonical form (NO float rounding —
    the driver's hash gate is exact, so the local replica must be too)."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
        elif np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]")
        elif np.issubdtype(df[c].dtype, np.integer):
            # the driver's hash unifies integer widths (Spark rank() int32
            # vs DuckDB int64 was hash-green r6/r7) but NOT int-vs-float
            # (the four r7 failures) — replicate exactly that
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """STRICT comparator: dtype-equal post-canon, then bitwise-exact cells.

    The r7 gate shipped four dtype-only failures because this used to be
    check_dtype=False + rtol=1e-9 — blind to exactly the class the driver's
    exact hash catches (DuckDB SUM(BIGINT)->HUGEINT->float64 vs Spark int64).
    """
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = canon(spark_pdf), canon(duck_pdf)
    sdt, ddt = dict(a.dtypes.astype(str)), dict(b.dtypes.astype(str))
    if sdt != ddt:
        problems.append(f"DTYPE MISMATCH: spark={sdt} duck={ddt}")
    if len(a) == len(b) and sdt == ddt:
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=True, check_exact=True)
        except AssertionError as e:
            problems.append(f"values differ: {str(e).splitlines()[-1]}")
            mask = ~(a.eq(b) | (a.isna() & b.isna()))
            bad = mask.any(axis=1)
            if bad.any():
                i = bad.idxmax()
                problems.append(f"  first diff row {i}:\n  spark: {a.loc[i].to_dict()}\n  duck:  {b.loc[i].to_dict()}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from cpx_etl_spark.queries import SETUPS, load_registry
    from cpx_etl_spark.session import get_spark

    queries, oracles = load_registry()
    spark = get_spark("verify-oracles", master="local[8]", shuffle_partitions=8)
    con = duck_con(sf_dir)

    def report(line: str) -> None:
        # lead with \n so Spark's \r progress bars never swallow a result line
        sys.stdout.write("\n" + line + "\n")
        sys.stdout.flush()

    failures = 0
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        try:
            if name in SETUPS:
                SETUPS[name](spark, sf_dir)
        except Exception as e:
            report(f"FAIL {name}: setup raised {type(e).__name__}: {e}")
            failures += 1
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            report(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            report(f"ok   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            ddf = con.execute(oracles[name]).fetch_df()
        except Exception as e:
            report(f"FAIL {name}: duckdb raised {type(e).__name__}: {e}")
            failures += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failures += 1
            report(f"FAIL {name} ({len(sdf)} spark rows / {len(ddf)} duck rows):")
            for p in problems:
                print(f"  {p}")
        else:
            report(f"ok   {name}: {len(sdf)} rows match ({time.time()-t0:.1f}s)")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
