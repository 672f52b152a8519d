"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given SF dir, then compares row count, sorted column names,
and an order-insensitive cell-level comparison (strict equality — the
registry engineers numeric determinism via exact DECIMAL aggregation).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python UDF workers import the package too; they inherit PYTHONPATH
# from the JVM, which takes this process's environment when it starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonical string form per cell for order-insensitive compare
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "<NULL>"
        if pd.api.types.is_scalar(v) and pd.isna(v):
            return "<NULL>"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, bytes):
            return v.hex()
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    out = df.map(cell)
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def compare(name: str, spark_df, oracle_df) -> tuple[bool, str]:
    s, o = normalize(spark_df), normalize(oracle_df)
    if list(s.columns) != list(o.columns):
        return False, f"columns differ: spark={list(s.columns)} oracle={list(o.columns)}"
    if len(s) != len(o):
        return False, f"row count differs: spark={len(s)} oracle={len(o)}"
    neq = (s != o).any(axis=1)
    if neq.any():
        i = neq.idxmax()
        return False, (
            f"value mismatch at sorted-row {i}:\n  spark : {s.iloc[i].to_dict()}\n"
            f"  oracle: {o.iloc[i].to_dict()}"
        )
    return True, f"OK ({len(s)} rows)"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from mergermetrics_lakehouse_pipeline_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duck_connect(sf_dir)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    passed = failed = skipped = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark query raised\n{traceback.format_exc()}")
            failed += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only: {len(sdf)} rows)")
            skipped += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: oracle SQL raised\n{traceback.format_exc()}")
            failed += 1
            continue
        ok, msg = compare(name, sdf, odf)
        status = "PASS" if ok else "FAIL"
        print(f"{status} {name}: {msg} [{time.time() - t0:.1f}s]")
        passed += ok
        failed += not ok
    print(f"\n{passed} passed, {failed} failed, {skipped} rows-only")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
