"""Candidate-GROWTH smoke (round 10, VERDICT r9 next-step #4): measure
how many candidate pairs the banded/bucketed designs actually generate
at 1x and Kx input — the count that decides 100 TB feasibility. A
banded design grows ~O(n) (ratio ~= K); an all-pairs design grows
O(n^2) (ratio ~= K^2 = 100 at K=10).

Replication is disjoint-by-construction, mirroring scale_smoke.py's
philosophy: replicated documents get per-replica word suffixes
(disjoint shingle spaces), replicated embeddings get per-replica
orthogonal offsets (disjoint clouds) — K independent corpora, the fair
linear test. Verbatim copies would instead create K-times-deeper
near-dup structure whose TRUE pair count is quadratic by construction,
which says nothing about the algorithm.

Also exercises the round-9/10 Delta surface at sf0.1 row counts:
row-tracking OPTIMIZE preserving ids through compaction, and
clustered-table stats-skipping after auto-Z-order.

Usage: python tools/growth_smoke.py [sf_dir] [factor]
Prints one JSON line per measurement; SCALE.md records the table.
"""

from __future__ import annotations

import json
import os
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

from pyspark.sql import DataFrame, Window, functions as F  # noqa: E402

from mergermetrics_lakehouse_pipeline_spark.operators.dedup import (  # noqa: E402
    minhash_lsh_candidates,
)
from mergermetrics_lakehouse_pipeline_spark.operators.similarity import (  # noqa: E402
    ivf_assign,
)
from mergermetrics_lakehouse_pipeline_spark.session import get_spark  # noqa: E402
from tools.replicate import replicate, shift_dimension, suffix_words  # noqa: E402

N = 10_000_000  # per-copy key offset


def stride_centroids(e: DataFrame, k: int):
    """k centroids sampled evenly across the id-ordered corpus (reaches
    every replica cloud; deterministic)."""
    import numpy as np

    n = e.count()
    step = max(1, n // k)
    w = Window.orderBy("vec_id")
    rows = (
        e.select("vec_id", "embedding", F.row_number().over(w).alias("rn"))
        .filter((F.col("rn") - 1) % step == 0)
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    return np.array([r.embedding for r in rows], dtype="float64")


def minhash_pair_growth(spark, sf_dir: str, k: int) -> dict:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    out = {}
    dk = replicate(d, k, ["doc_id"], extra=suffix_words, offset=N)
    for label, frame in (("1x", d), (f"{k}x", dk)):
        t0 = time.time()
        out[label] = {
            "n_docs": frame.count(),
            "cand_pairs": minhash_lsh_candidates(
                frame, "text", "doc_id"
            ).count(),
            "sec": round(time.time() - t0, 2),
        }
    r = out[f"{k}x"]["cand_pairs"] / max(out["1x"]["cand_pairs"], 1)
    out["pair_ratio"] = round(r, 2)
    out["linear_not_quadratic"] = bool(r <= 3 * k)  # O(n) band, not ~k^2
    return {"measure": "minhash_band_candidate_pairs", **out}


def ivf_pair_growth(spark, sf_dir: str, k: int) -> dict:
    """Within-cell pair counts (the SemDeDup/neighbor-candidate bound)
    with the centroid budget scaled with n — per-cell occupancy stays
    ~constant, so sum-over-cells C(n_c, 2) grows ~O(n)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    out = {}
    per_cell_target = 25
    ek = replicate(e, k, ["vec_id"], extra=shift_dimension, offset=N)
    for label, frame in (("1x", e), (f"{k}x", ek)):
        n = frame.count()
        cents = stride_centroids(frame, max(4, n // per_cell_target))
        t0 = time.time()
        cells = ivf_assign(frame, cents, nprobe=1).groupBy("centroid_id").agg(
            F.count("*").alias("m")
        )
        pairs = cells.agg(
            F.sum(F.col("m") * (F.col("m") - 1) / 2).cast("long")
        ).first()[0]
        out[label] = {
            "n_vecs": n,
            "n_cells": len(cents),
            "within_cell_pairs": int(pairs),
            "sec": round(time.time() - t0, 2),
        }
    r = out[f"{k}x"]["within_cell_pairs"] / max(
        out["1x"]["within_cell_pairs"], 1
    )
    out["pair_ratio"] = round(r, 2)
    out["linear_not_quadratic"] = bool(r <= 3 * k)
    return {"measure": "ivf_within_cell_pairs", **out}


def row_tracking_optimize_sf(spark, sf_dir: str) -> dict:
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        optimize_delta,
        read_delta_row_ids,
        write_delta,
    )

    root = tempfile.mkdtemp(prefix="mm_growth_rt_") + "/orders_rt"
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    t0 = time.time()
    write_delta(
        o.filter("o_orderkey % 4 = 0").repartition(8), root,
        mode="overwrite",
        configuration={"delta.enableRowTracking": "true"},
    )
    for m in (1, 2, 3):
        write_delta(
            o.filter(f"o_orderkey % 4 = {m}").repartition(8), root,
            mode="append",
        )
    before = read_delta_row_ids(spark, root)
    n_before = before.count()
    ids_before = before.agg(
        F.min("_row_id"), F.max("_row_id"), F.sum("_row_id")
    ).first()
    t_write = time.time() - t0
    t0 = time.time()
    optimize_delta(spark, root)
    after = read_delta_row_ids(spark, root)
    ids_after = after.agg(
        F.min("_row_id"), F.max("_row_id"), F.sum("_row_id")
    ).first()
    return {
        "measure": "row_tracking_optimize_sf",
        "n_rows": n_before,
        "ids_preserved": bool(
            after.count() == n_before and tuple(ids_before) == tuple(ids_after)
        ),
        "write_sec": round(t_write, 2),
        "optimize_sec": round(time.time() - t0, 2),
    }


def clustered_skipping_sf(spark, sf_dir: str) -> dict:
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        optimize_delta,
        prune_files_by_stats,
        snapshot,
        write_delta,
    )

    root = tempfile.mkdtemp(prefix="mm_growth_cl_") + "/orders_cl"
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_delta(
        o.repartition(16), root, mode="overwrite",
        cluster_by=["o_orderkey", "o_custkey"],
    )
    t0 = time.time()
    optimize_delta(spark, root)
    t_opt = time.time() - t0
    snap = snapshot(spark, root)
    hi = o.agg(F.max("o_orderkey")).first()[0]
    planned, n_skipped = prune_files_by_stats(
        snap, "o_orderkey", hi // 10, hi // 5
    )
    return {
        "measure": "clustered_table_skipping_sf",
        "n_files": len(snap.files),
        "files_planned_for_decile_range": len(planned),
        "files_skipped": n_skipped,
        "skipping": bool(n_skipped > 0),
        "optimize_sec": round(t_opt, 2),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark("growth-smoke")
    print(json.dumps(minhash_pair_growth(spark, sf_dir, k)))
    print(json.dumps(ivf_pair_growth(spark, sf_dir, k)))
    sf01 = "/root/testdata/sf0.1"
    print(json.dumps(row_tracking_optimize_sf(spark, sf01)))
    print(json.dumps(clustered_skipping_sf(spark, sf01)))


if __name__ == "__main__":
    main()
