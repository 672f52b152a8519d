"""Deletion-vector scale smoke (round 7): DV-delete the same key range
from a 1x and an 8x lineitem Delta table and report wall time, driver
bitmap payload, and driver peak-RSS deltas.

What this backs (SCALE.md round-7): `_dv_matched_blobs` builds per-file
Roaring bitmaps EXECUTOR-side and the driver collects only O(files)
serialized blobs — so an 8x bigger delete should grow the driver's
held payload by the compressed-bitmap factor (bytes, not Python row
objects) and wall time at most linearly. Before round 7 the driver
collected (file, row_index) PAIRS — O(matched rows) Python objects —
which this smoke would expose as a superlinear RSS jump.

Usage: python tools/dv_scale_smoke.py [sf_dir] [factor]
"""

from __future__ import annotations

import os
import resource
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python UDF workers import the package too; they inherit PYTHONPATH
# from the JVM, which takes this process's environment when it starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from pyspark.sql import functions as F  # noqa: E402

from mergermetrics_lakehouse_pipeline_spark.session import get_spark  # noqa: E402
import mergermetrics_lakehouse_pipeline_spark.sources.delta_log as dl  # noqa: E402
from tools.replicate import replicate  # noqa: E402


def _rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def run(spark, li, files: int, lo: int, hi: int) -> dict:
    root = tempfile.mkdtemp(prefix="mm_dvsmoke_") + "/t"
    dl.write_delta(li.repartition(files), root, mode="overwrite")
    snap = dl.snapshot(spark, root)
    blobs = dl._dv_matched_blobs(
        spark, root, snap, "l_orderkey", lo, hi, list(snap.files)
    )
    rss0 = _rss_mb()
    t0 = time.time()
    v, n_dv = dl.delete_delta_dv(spark, root, "l_orderkey", lo, hi)
    dt = time.time() - t0
    n = dl.read_delta(spark, root).count()
    return {
        "files": len(snap.files),
        "dv_files": n_dv,
        "blob_bytes": sum(len(b) for b, _ in blobs.values()),
        "marked_rows": sum(c for _, c in blobs.values()),
        "survivors": n,
        "delete_sec": round(dt, 2),
        "rss_delta_mb": round(_rss_mb() - rss0, 1),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark("dv-smoke")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    span = li.agg(F.max("l_orderkey")).first()[0] + 1
    rep = replicate(li, k, ["l_orderkey"], offset=span)

    # 1x: delete 10% of keys; kx: delete k*10% of replica 0's key space
    # (keys are dense, so matched rows scale exactly by k; hash
    # repartitioning spreads them over all files either way)
    one = run(spark, li, 16, 0, span // 10)
    print("1x:", one)
    big = run(spark, rep, 128, 0, (k * span) // 10)
    print(f"{k}x:", big)
    print(
        "ratios: time %.2fx, blob bytes %.2fx, marked rows %.2fx"
        % (
            big["delete_sec"] / max(one["delete_sec"], 1e-9),
            big["blob_bytes"] / max(one["blob_bytes"], 1),
            big["marked_rows"] / max(one["marked_rows"], 1),
        )
    )


if __name__ == "__main__":
    main()
