"""Capture `.explain("formatted")` output for round-14 optimization
evidence: plans/r14/<query>_<tag>.txt per query.

Usage:
    python tools/r14_plans.py before q1 q2 ...   # tag=before
    python tools/r14_plans.py after  q1 q2 ...   # tag=after

Runs each query once (collect) so the AQE-final executed plan is also
appended after the formatted (pre-execution) plan.
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

from mergermetrics_lakehouse_pipeline_spark import registry  # noqa: E402
from mergermetrics_lakehouse_pipeline_spark.session import get_spark  # noqa: E402

OUT_DIR = os.path.join(ROOT, "plans", "r14")


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("r14plans")
    registry._load_extensions()
    os.makedirs(OUT_DIR, exist_ok=True)
    qs = {q.name: q for q in registry.QUERIES}
    for name in names:
        q = qs[name]
        df = q.fn(spark, sf_dir)
        formatted = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        executed = executed.split("== Initial Plan ==")[0]
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"== explain(formatted), sf_dir={sf_dir} ==\n")
            fh.write(formatted)
            fh.write("\n\n== AQE-final executed plan ==\n")
            fh.write(executed)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
