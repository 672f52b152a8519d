"""Generate PLAN_FP.json: a physical-plan fingerprint per registry query.

The fingerprint counts the plan features that decide 100 TB behavior —
exchanges (shuffles), join strategies, scans, windows, codegen spans —
so any future edit that silently degrades a plan (a broadcast join
collapsing to sort-merge, an extra shuffle, a scan multiplying) fails
tests/test_plan_fingerprints.py instead of surfacing as a bench
regression two rounds later.

Usage: python tools/plan_fingerprints.py          # regenerate baseline
"""

from __future__ import annotations

import json
import re
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python UDF workers import the package too; they inherit PYTHONPATH
# from the JVM, which takes this process's environment when it starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from mergermetrics_lakehouse_pipeline_spark import registry  # noqa: E402
from mergermetrics_lakehouse_pipeline_spark.session import get_spark  # noqa: E402

FEATURES = {
    "exchanges": r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
    "broadcast_joins": r"BroadcastHashJoin",
    "sortmerge_joins": r"SortMergeJoin",
    "bnl_joins": r"BroadcastNestedLoopJoin",
    "file_scans": r"FileScan",
    "windows": r"\bWindow \[",
    "python_eval": r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas",
}

#: queries whose plans are inherently run-shaped (temp dirs, streaming,
#: multi-statement side effects) — fingerprinted loosely (errors only)
SKIP = {
    name
    for name in ()
}


def fingerprint(plan: str) -> dict[str, int]:
    final = plan.split("== Initial Plan ==")[0]
    return {k: len(re.findall(rx, final)) for k, rx in FEATURES.items()}


def main() -> None:
    spark = get_spark("planfp")
    registry._load_extensions()
    sf_dir = "/root/testdata/sf0.001"
    out: dict[str, dict[str, int]] = {}
    for q in registry.QUERIES:
        if q.name in SKIP:
            continue
        try:
            df = q.fn(spark, sf_dir)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            out[q.name] = fingerprint(plan)
        except Exception as e:  # noqa: BLE001
            print(f"SKIP {q.name}: {type(e).__name__}: {e}")
    with open(os.path.join(ROOT, "PLAN_FP.json"), "w") as fh:
        json.dump(out, fh, indent=0, sort_keys=True)
    print(f"PLAN_FP.json: {len(out)} fingerprints")


if __name__ == "__main__":
    main()
