"""Determinism gate: every registry query must produce identical results
at different shuffle-partition counts (the driver's session will not
match ours — partition-order-dependent results would hash-mismatch
nondeterministically).

Runs each query at spark.sql.shuffle.partitions=32 and =7 (coprime, so
hash placement differs everywhere) and compares sorted results.

Usage: python tools/check_determinism.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python UDF workers import the package too; they inherit PYTHONPATH
# from the JVM, which takes this process's environment when it starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import pandas as pd  # noqa: E402

from mergermetrics_lakehouse_pipeline_spark import registry  # noqa: E402
from mergermetrics_lakehouse_pipeline_spark.session import get_spark  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    # stringify first: list/array cells are unhashable and unsortable
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("determinism")
    registry._load_extensions()
    failed = 0
    for q in registry.QUERIES:
        if only and q.name not in only:
            continue
        runs = []
        for n in ("32", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            runs.append(canon(q.fn(spark, sf_dir).toPandas()))
        if runs[0].equals(runs[1]):
            print(f"PASS {q.name}: identical at 32 and 7 partitions ({len(runs[0])} rows)")
        else:
            failed += 1
            diff = runs[0].compare(runs[1]) if runs[0].shape == runs[1].shape else None
            print(f"FAIL {q.name}: results differ across partition counts")
            if diff is not None and len(diff):
                print(diff.head(3))
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    print(f"\n{'OK' if failed == 0 else 'FAILED'}: {failed} nondeterministic")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
