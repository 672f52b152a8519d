"""Round-15 measurement: per-Spark-job breakdown of one registry query.

The Delta roundtrip family's cost at sf0.1 is dominated by the NUMBER of
Spark jobs each protocol operation launches (guide §1: measure first; at
this SF each job carries fixed scheduling/planning overhead). This tool
runs a named registry query once, with the Spark REST status API polled
afterwards to list every job (description, duration), so the job chain
of a write/merge/checkpoint/read sequence is attributable line by line.

Usage: python tools/r15_job_profile.py <query_name> [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python UDF workers import the package too; they inherit PYTHONPATH
# from the JVM, which takes this process's environment when it starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from mergermetrics_lakehouse_pipeline_spark import registry  # noqa: E402
from mergermetrics_lakehouse_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    # The engine session disables the UI; the profiler needs the REST
    # status API, so re-enable it for this measurement process only.
    spark = get_spark(
        "r15-job-profile", extra_conf={"spark.ui.enabled": "true"}
    )
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    app_id = sc.applicationId
    qs = registry.queries()

    # Warm the JVM so one-off codegen/session costs don't pollute the
    # per-job attribution.
    qs["topk_global"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    def jobs() -> list[dict]:
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/jobs") as r:
            return json.loads(r.read())

    # First execution pays one-off codegen/scheduler warm-up (bench
    # reports min-of-3); profile the SECOND run so the job breakdown
    # reflects the steady state the bench actually measures.
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    n0 = len(jobs())
    t0 = time.time()
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    after = jobs()
    new = [j for j in after if j["jobId"] >= n0]
    new.sort(key=lambda j: j["jobId"])
    total_job = 0.0
    print(f"query={name} wall={wall:.3f}s jobs={len(new)}")
    for j in new:
        from datetime import datetime

        st = datetime.strptime(j["submissionTime"], "%Y-%m-%dT%H:%M:%S.%fGMT")
        ct = datetime.strptime(j["completionTime"], "%Y-%m-%dT%H:%M:%S.%fGMT")
        dur = (ct - st).total_seconds()
        total_job += dur
        desc = (j.get("description") or j.get("name") or "")[:110]
        print(
            f"  job {j['jobId']:>4} {dur:7.3f}s tasks={j['numTasks']:>4} {desc}"
        )
    print(f"sum(job durations)={total_job:.3f}s  wall={wall:.3f}s  "
          f"gap(driver-side)={wall - total_job:.3f}s")


if __name__ == "__main__":
    main()
