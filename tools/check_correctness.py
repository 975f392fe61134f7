"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column
names, and an order-insensitive value comparison (columns sorted by
name, rows sorted by all columns, exact equality after dtype
normalization).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from erkg_tutorials_spark.catalog import TABLES  # noqa: E402
from erkg_tutorials_spark.session import get_spark  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("bool")
        else:
            df[c] = df[c].astype("string")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    issues = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        issues.append(f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return issues
    if len(spark_pdf) != len(duck_pdf):
        issues.append(f"row count differs: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return issues
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for c in a.columns:
        if a[c].dtype != b[c].dtype:
            issues.append(f"dtype differs on {c}: spark={a[c].dtype} duck={b[c].dtype}")
    if issues:
        return issues
    neq = ~(a.eq(b) | (a.isna() & b.isna()))
    bad = neq.any(axis=1)
    if bad.any():
        n = int(bad.sum())
        idx = bad[bad].index[:3]
        sample = pd.concat([a.loc[idx].add_suffix("_spark"), b.loc[idx].add_suffix("_duck")], axis=1)
        issues.append(f"{n} mismatching rows, e.g.\n{sample.to_string()}")
    return issues


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    spark = get_spark("check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def _revive(dead):
        """Fresh session after a JVM death (an executor OOM in local
        mode kills the whole JVM; without this, one heap blowout
        poisons every later query — the r10 10x sweep lost 177
        queries to one ktruss OOM). Resets the py4j gateway so a NEW
        JVM launches; memoized plans die with the old session, which
        is correct (their cached RDDs are gone)."""
        from pyspark import SparkContext

        try:
            dead.stop()
        except Exception:
            pass
        with SparkContext._lock:
            SparkContext._active_spark_context = None
            SparkContext._gateway = None
            SparkContext._jvm = None
        from pyspark.sql import SparkSession

        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        return get_spark("check-correctness")

    def _alive(s) -> bool:
        # A context that stopped CLEANLY keeps a live JVM gateway, so
        # the isStopped() boolean must be honoured, not just the call
        # surviving (r10 ADVICE) — else revival is skipped and every
        # later query in the sweep fails.
        try:
            return not s.sparkContext._jsc.sc().isStopped()
        except Exception:
            return False

    failed, passed = [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            failed.append(name)
            if not _alive(spark):
                print(f"-- session dead after {name}; reviving --")
                spark = _revive(spark)
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            failed.append(name)
            continue
        issues = compare(name, spark_pdf, duck_pdf)
        if issues:
            print(f"FAIL {name} ({time.time()-t0:.1f}s):")
            for i in issues:
                print(f"   {i}")
            failed.append(name)
        else:
            print(f"PASS {name}: rows={len(spark_pdf)} ({time.time()-t0:.1f}s)")
            passed.append(name)

    # Every query has an oracle, so none is weak; the summary keeps its
    # historical shape so old and new sweep logs read alike.
    print(f"\n{len(passed)} passed, {len(failed)} failed, 0 weak (rows-only)")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
