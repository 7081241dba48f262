"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same sf dir, compares row count, column names, and
order-insensitive values (sorted by all columns, floats rounded at
compare time only as a formatting guard — the queries themselves are
responsible for stable values).

Usage: python tools/check_oracles.py [sf_dir] [query ...]

Partitioning-invariance harness: re-run the full sweep under a
perturbed parallelism config — ``SPARK_GRAFT_CPUS=5 python
tools/check_oracles.py /root/testdata/sf0.01`` runs local[5] with 5
shuffle partitions; every entry must still match its oracle (verified
registry-wide in round 6).
"""

from __future__ import annotations

import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, ".")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
ONLY = set(sys.argv[2:])

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for col in df.columns:
        if df[col].dtype == object:
            df[col] = df[col].astype(str)
        elif str(df[col].dtype).startswith("datetime64"):
            df[col] = df[col].astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list:
    """The gate's verdict on one query: the list of problems between
    the Spark result and its oracle result (empty = match) — row count,
    column names, then order-insensitive values (exact; a 1e-9 retry
    only labels float noise, it still fails) and dtypes."""
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rows {len(sdf)} vs {len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
    if problems:
        return problems
    a, b = canon(sdf), canon(odf)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as err:
        # retry with tolerance to distinguish float-noise from logic bugs
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, rtol=1e-9, atol=1e-9)
            problems.append("float-noise (passes at 1e-9 tol — EXACT HASH WOULD FAIL)")
        except AssertionError:
            problems.append(f"values differ: {str(err)[:300]}")
    # dtype check (schema gate)
    for col in a.columns:
        if str(a[col].dtype) != str(b[col].dtype):
            problems.append(f"dtype {col}: {a[col].dtype} vs {b[col].dtype}")
    return problems


def main() -> int:
    import __spark_entry__ as entrymod
    from aws_data_wrangler_spark import get_spark

    spark = get_spark()
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duck_con(SF_DIR)
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(sdf)} rows  [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            failures.append(name)
            continue
        problems = compare(sdf, odf)
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}  [{time.time()-t0:.1f}s]")
            failures.append(name)
        else:
            print(f"OK   {name}: {len(sdf)} rows  [{time.time()-t0:.1f}s]")
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
