"""Round-14 measurement: where does a Delta roundtrip query's time go?

Times the building blocks of the pure-Python Delta engine in isolation
(write commit, merge commit, snapshot replay, read) on a tiny state
table — the shape of `delta_hll_sketch_state_roundtrip` — so the fixed
per-commit overhead is attributable before optimizing (guide §1).
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python UDF workers import the package too; they inherit PYTHONPATH
# from the JVM, which takes this process's environment when it starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from mergermetrics_lakehouse_pipeline_spark.scratch import scratch_dir  # noqa: E402
from mergermetrics_lakehouse_pipeline_spark.session import get_spark  # noqa: E402
from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (  # noqa: E402
    merge_delta,
    read_delta,
    snapshot,
    write_delta,
)


def main() -> None:
    spark = get_spark("r14-delta-profile")
    from pyspark.sql import functions as F

    root = scratch_dir(prefix="mm_r14_prof_") + "/t"
    df = spark.range(256).select(
        F.col("id").alias("register"), (F.col("id") % 7).cast("int").alias("m_val")
    )

    t0 = time.time()
    df.count()
    print(f"warm count: {time.time()-t0:.3f}s")

    t0 = time.time()
    write_delta(df, root, mode="overwrite")
    print(f"write_delta (create, 256 rows): {time.time()-t0:.3f}s")

    n_files = sum(
        1
        for r, _d, ns in os.walk(root)
        for n in ns
        if n.endswith(".parquet") and "_delta_log" not in r
    )
    print(f"data files after create: {n_files}")

    t0 = time.time()
    batch = spark.range(256).select(
        F.col("id").alias("register"), F.lit(9).cast("int").alias("m_val")
    )
    merge_delta(spark, root, batch, "register")
    print(f"merge_delta (256-row source): {time.time()-t0:.3f}s")

    n_files = sum(
        1
        for r, _d, ns in os.walk(root)
        for n in ns
        if n.endswith(".parquet") and "_delta_log" not in r
    )
    print(f"data files after merge: {n_files}")

    t0 = time.time()
    s = snapshot(spark, root)
    print(f"snapshot replay (v{s.version}): {time.time()-t0:.3f}s")

    t0 = time.time()
    read_delta(spark, root).count()
    print(f"read_delta + count: {time.time()-t0:.3f}s")

    t0 = time.time()
    read_delta(spark, root, version=0).count()
    print(f"time-travel read v0 + count: {time.time()-t0:.3f}s")


if __name__ == "__main__":
    main()
