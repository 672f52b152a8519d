"""Measurement helpers: spans around layer calls, py4j call counts,
Spark job intervals from the status API, Delta commit contents and the
peak resident memory of the driver process tree.

With tracing off a ``Tracer`` records nothing and patches nothing, so
the end-to-end metrics are measured without its cost.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None  # index of the timed operation, None during set-up


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Records spans (name, start, end, parent, op) in memory."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: list[tuple[str, float, int | None, float]] = []  # (name, value, op, time)
        self.op: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts.append((name, value, self.op, time.time()))

    def instrument(self, module, attr: str, name: str, after=None) -> None:
        """Replace ``module.attr`` by a wrapper that records a span named
        ``name``; ``after(args, kwargs, result)`` may record counts. Calls
        from inside the module resolve the global at call time, so they
        are recorded too. No-op with tracing off."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if after is not None:
                after(args, kwargs, result)
            return result

        self._patched.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def self_times(self) -> list[float]:
        """Per span: its duration minus the part its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        return [
            (s.end - s.start) - union_length(
                [(max(lo, s.start), min(hi, s.end)) for lo, hi in children.get(i, [])]
            )
            for i, s in enumerate(self.spans)
        ]

    def dump(self, path: Path) -> None:
        """Write every span with its self time as JSON lines."""
        with open(path, "w") as fh:
            for s, own in zip(self.spans, self.self_times()):
                fh.write(json.dumps({**s.__dict__, "self": own}) + "\n")


class Py4jCounter:
    """Counts round trips through the py4j gateway client."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.tracer = tracer
        self.by_op: dict[int | None, int] = {}
        send = self.client.send_command

        def counting_send(*args, **kwargs):
            op = tracer.op
            self.by_op[op] = self.by_op.get(op, 0) + 1
            return send(*args, **kwargs)

        self.client.send_command = counting_send

    def close(self) -> None:
        del self.client.send_command  # back to the class method


def spark_jobs(spark) -> list[dict]:
    """Every job the status API (on localhost) still retains."""
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/jobs"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def job_interval(job: dict) -> tuple[float, float] | None:
    """(submission, completion) as epoch seconds; None if unfinished."""
    if "completionTime" not in job:
        return None

    def parse(s: str) -> float:
        t = dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT")
        return t.replace(tzinfo=dt.timezone.utc).timestamp()

    return parse(job["submissionTime"]), parse(job["completionTime"])


class RssSampler:
    """Samples the resident memory of this process and every descendant
    (the JVM and its Python workers) from /proc; keeps the peak sum.

    Each process counts its proportional set size (PSS): a page shared by
    n processes counts 1/n in each. Plain RSS would count a page once per
    sharer, so every short-lived child the JVM forks (Hadoop's local file
    system runs shell commands) would briefly double the JVM's memory.
    """

    def __init__(self, period_s: float = 0.5) -> None:
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        """Stop sampling after one last sample; the peak stays readable."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.sample()

    def _tree(self) -> list[int]:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as fh:
                        stat = fh.read()
                except OSError:
                    continue
                parent[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
        tree, frontier = [os.getpid()], [os.getpid()]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree += frontier
        return tree

    def sample(self) -> None:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next(int(line.split()[1]) for line in fh if line.startswith("Pss:")) * 1024
            except (OSError, StopIteration):
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)


class DeltaLog:
    """Reads a Delta table's JSON commits directly (the benchmark's own
    view of what each commit did, independent of the engine)."""

    def __init__(self, table: str) -> None:
        self.log = Path(table) / "_delta_log"

    def versions(self) -> list[int]:
        return sorted(int(p.name[:20]) for p in self.log.glob("*.json") if p.name[:20].isdigit())

    def actions(self, version: int) -> list[dict]:
        with open(self.log / f"{version:020d}.json") as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def live_files(self, upto: int | None = None) -> dict[str, dict]:
        """path -> add action of the files live at ``upto`` (default latest)."""
        live: dict[str, dict] = {}
        for v in self.versions():
            if upto is not None and v > upto:
                break
            for a in self.actions(v):
                if "add" in a:
                    live[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
        return live

    def last_checkpoint(self, upto: int) -> int | None:
        found = [int(p.name[:20]) for p in self.log.glob("*.checkpoint*.parquet") if int(p.name[:20]) <= upto]
        return max(found) if found else None


def num_records(add: dict) -> int:
    return json.loads(add.get("stats") or "{}").get("numRecords", 0)


def disk_bytes(root: Path) -> tuple[int, int]:
    """(data bytes, _delta_log bytes) under ``root``."""
    data = log = 0
    for dirpath, _dirs, names in os.walk(root):
        size = sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
        if "_delta_log" in Path(dirpath).parts:
            log += size
        else:
            data += size
    return data, log
