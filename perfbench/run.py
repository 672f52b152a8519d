"""Medallion lakehouse benchmark: run one workload, print its metrics.

Usage, from the root of a checkout of the repository:

    python3 perfbench/run.py --workload incremental_cycles --seed 1 --seconds 6 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the same
workload with spans, py4j counting and the Spark status API on and prints
the per-layer metrics. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; the line before it
is a human-readable summary. Scratch files live in ``.perfbench_work/``
(removed at exit); traced runs keep their spans in ``.perfbench_trace/``.
Workloads and metrics are described in README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "mergermetrics_lakehouse_pipeline_spark"
WORK = ROOT / ".perfbench_work"
TRACE_DIR = ROOT / ".perfbench_trace"
WORKLOADS = ("incremental_cycles", "bi_serving")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not ENGINE.is_dir():
        print(f"perfbench: engine package {ENGINE.name}/ not found beside perfbench/", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    # every scratch file of Python, Spark and the JVM stays in the checkout
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    # glibc's per-thread malloc arenas in the JVM made peak RSS swing
    # between 2.2 and 4.2 GB on identical inputs; two arenas keep it steady
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import run

    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), WORK)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    if args.trace:
        TRACE_DIR.mkdir(exist_ok=True)
        result.tr.dump(TRACE_DIR / f"{args.workload}-seed{args.seed}.jsonl")
    print(result.summary())
    print(json.dumps(result.result()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
