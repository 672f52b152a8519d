"""SF1 scale smoke (round 11, VERDICT r10 next-step #5): replicate the
sf0.1 tables 10x into an on-disk sf1-shaped dataset (~6M lineitem rows)
and run the frozen HEADLINE set once — one order of magnitude beyond
the growth smoke's 10x candidate-count measurements, closing the
extrapolation gap between "measured at sf0.1" and "claimed for 100 TB".

Replication is FK-consistent and disjoint-by-construction:

- fact/dim keys get per-replica offsets applied to BOTH sides of every
  foreign key (orders.o_orderkey and lineitem.l_orderkey shift
  together, and so on), so join selectivity and per-key group sizes
  match a real 10x corpus rather than 10x-deeper hot keys;
- nation/region stay fixed (TPC-H dims that do not scale with SF);
- events offset event_id/user_id (disjoint user populations — per-user
  windows scale by k, not k^2) with a value jitter to keep top-k
  selection non-degenerate;
- documents get per-replica word suffixes (disjoint shingle spaces);
- embeddings shift one dimension per replica (disjoint clouds).

Besides wall times, the smoke re-fingerprints each headline plan at
sf1 (tools/plan_fingerprints.fingerprint) and reports drift vs the
committed PLAN_FP.json — a plan that changes shape at 10x (e.g. an
AQE broadcast decision flipping to sort-merge as a dim outgrows the
threshold) is exactly what this smoke exists to surface.

Usage: python tools/sf1_smoke.py [sf_dir] [factor] [out_dir] [set]
``set`` names a bench query list (HEADLINE default; EXTENDED_R11,
EXTENDED, ...). Prints one JSON line per query and a summary line;
SCALE.md records the table.
"""

from __future__ import annotations

import json
import os
import shutil
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

from pyspark.sql import DataFrame  # noqa: E402

from mergermetrics_lakehouse_pipeline_spark import registry  # noqa: E402
from mergermetrics_lakehouse_pipeline_spark.session import get_spark  # noqa: E402
from tools.replicate import (  # noqa: E402
    jitter_value,
    replicate,
    shift_dimension,
    suffix_words,
)


def build_sf1(spark, sf_dir: str, k: int, out_dir: str) -> None:
    T = registry.T

    def write(name: str, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")

    # fixed dims: straight copies
    for name in ("region", "nation"):
        write(name, T(spark, sf_dir, name))

    write("customer", replicate(T(spark, sf_dir, "customer"), k, ["c_custkey"]))
    write("supplier", replicate(T(spark, sf_dir, "supplier"), k, ["s_suppkey"]))
    write("part", replicate(T(spark, sf_dir, "part"), k, ["p_partkey"]))
    write(
        "orders",
        replicate(T(spark, sf_dir, "orders"), k, ["o_orderkey", "o_custkey"]),
    )
    write(
        "lineitem",
        replicate(
            T(spark, sf_dir, "lineitem"),
            k,
            ["l_orderkey", "l_partkey", "l_suppkey"],
        ),
    )
    write(
        "events",
        replicate(
            registry.events_table(spark, sf_dir),
            k,
            ["event_id", "user_id"],
            extra=jitter_value,
        ),
    )
    write(
        "documents",
        replicate(T(spark, sf_dir, "documents"), k, ["doc_id"], extra=suffix_words),
    )
    write(
        "embeddings",
        replicate(T(spark, sf_dir, "embeddings"), k, ["vec_id"], extra=shift_dimension),
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    auto_dir = not (len(sys.argv) > 3 and sys.argv[3] != "-")
    out_dir = (
        tempfile.mkdtemp(prefix="mm_sf1_") if auto_dir else sys.argv[3]
    )
    # comma-separated bench set names share ONE build (round 12: the
    # standing SF1_BENCH_r{N}.json artifact runs HEADLINE + the newest
    # extended set without rebuilding the 10x tables in between)
    set_names = (
        sys.argv[4] if len(sys.argv) > 4 else "HEADLINE,HEADLINE_V2"
    ).split(",")
    spark = get_spark("sf1-smoke")

    t0 = time.time()
    # reuse an existing build (round 15): the replicated dataset is
    # deterministic, and the 8-core vs 32-core ratio run (VERDICT r14
    # next-step #6) must time the QUERIES at both core counts, not pay
    # a second build
    if not os.path.exists(f"{out_dir}/lineitem.parquet"):
        build_sf1(spark, sf_dir, k, out_dir)
    n_li = spark.read.parquet(f"{out_dir}/lineitem.parquet").count()
    print(
        json.dumps(
            {
                "step": "build",
                "factor": k,
                "lineitem_rows": n_li,
                "sec": round(time.time() - t0, 1),
            }
        )
    )

    import bench
    from tools.plan_fingerprints import fingerprint

    baseline = {}
    fp_path = os.path.join(ROOT, "PLAN_FP.json")
    if os.path.exists(fp_path):
        baseline = json.load(open(fp_path))

    qs = registry.queries()
    bench.run_query(qs["topk_global"](spark, out_dir))  # warm codegen

    summaries: dict[str, dict] = {}
    for set_name in set_names:
        timings: dict[str, float] = {}
        drift: dict[str, dict] = {}
        for name in getattr(bench, set_name):
            t0 = time.time()
            df = qs[name](spark, out_dir)
            bench.run_query(df)
            dt = round(time.time() - t0, 3)
            timings[name] = dt
            fp = None
            try:
                df2 = qs[name](spark, out_dir)
                df2.collect()
                plan = df2._jdf.queryExecution().executedPlan().toString()
                fp = fingerprint(plan)
            except Exception as e:  # noqa: BLE001
                fp = {"error": str(e)[:80]}
            if name in baseline and fp != baseline[name]:
                drift[name] = {"sf0001": baseline[name], "sf1": fp}
            print(json.dumps({"query": name, "sec": dt}))

        summaries[set_name] = {
            "metric": f"sf1_{set_name.lower()}_total",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "factor": k,
            "lineitem_rows": n_li,
            "queries": timings,
            "plan_drift": drift,
        }
        print(json.dumps(summaries[set_name]))

    # round-13 trend assert (VERDICT r12 next-step #5): record each
    # query's 10x ratio (sf1 seconds / idle sf0.1 seconds from
    # BENCH_LOCAL.json) in the artifact, and when the previous round's
    # artifact is supplied (SPARK_GRAFT_SF1_PREV) FAIL if any query's
    # ratio regressed past 1.5x its prior value — the quiet-quadratic
    # creep detector (emb_neardup_pairs drifted 9.9x -> 15.8x between
    # r11 and r12 with nobody forced to look).
    local_path = os.path.join(ROOT, "BENCH_LOCAL.json")
    sf01: dict[str, float] = {}
    if os.path.exists(local_path):
        local = json.load(open(local_path))
        for key, val in local.items():
            if isinstance(val, dict):
                sf01.update(val)
    for s in summaries.values():
        s["ratios_vs_sf01"] = {
            q: round(t / sf01[q], 2)
            for q, t in s["queries"].items()
            if sf01.get(q)
        }
    prev_path = os.environ.get("SPARK_GRAFT_SF1_PREV")
    regressions: dict[str, dict] = {}
    if prev_path and os.path.exists(prev_path):
        prev = json.load(open(prev_path))
        prev_ratios: dict[str, float] = {}
        prev_secs: dict[str, float] = {}
        for s in prev.get("sets", {}).values():
            prev_ratios.update(s.get("ratios_vs_sf01", {}))
            prev_secs.update(s.get("queries", {}))
        # round 15 (VERDICT r14 next-step #4): the trend gate
        # adjudicates on HEADLINE_V2 + the extended sets — frozen V1 is
        # still RECORDED above for round-over-round continuity, but its
        # one documented bounded-bucket-quadratic row (emb_neardup_pairs,
        # 43% of the V1 SF1 total) made every armed run a manual
        # adjudication exercise; V2 swaps it for the occupancy-safe twin
        # so a gate flag means real drift.
        for set_name, s in summaries.items():
            if set_name == "HEADLINE":
                continue
            for q, r in s["ratios_vs_sf01"].items():
                # BOTH conditions (review round 13): the ratio jumped
                # AND the absolute sf1 time regressed — a ratio whose
                # denominator merely improved (faster idle sf0.1 run,
                # quieter machine) is not quadratic creep, and failing
                # on it would punish sf0.1-only wins
                if (
                    q in prev_ratios
                    and r > 1.5 * prev_ratios[q]
                    and s["queries"][q] > 1.2 * prev_secs.get(q, 0.0)
                ):
                    regressions[q] = {
                        "prev_ratio": prev_ratios[q],
                        "now_ratio": r,
                        "prev_sec": prev_secs.get(q),
                        "now_sec": s["queries"][q],
                    }
        print(json.dumps({"step": "trend", "regressions": regressions}))

    # standing artifact (round 12): $SPARK_GRAFT_SF1_OUT collects every
    # set's summary so scale ratios get round-over-round comparison
    # like the sf0.1 bench (SF1_BENCH_r{N}.json)
    art = os.environ.get("SPARK_GRAFT_SF1_OUT")
    if art:
        with open(art, "w") as fh:
            json.dump(
                {"factor": k, "lineitem_rows": n_li, "sets": summaries},
                fh,
                indent=1,
            )
    # only reclaim the dir THIS run created — an explicit out_dir is the
    # caller's (the 8-vs-32-core ratio runs share one build)
    if auto_dir:
        shutil.rmtree(out_dir, ignore_errors=True)
    if regressions:
        sys.exit(1)  # scale-ratio regression past 1.5x — fail loudly


if __name__ == "__main__":
    main()
