"""The benchmark's workloads: set-up, timed closed loop with one client,
correctness checks, and the metrics each run reports.

Set-up is the same for every workload: generate the seeded inputs, start
the engine session and run the full medallion load into a ``state``
warehouse. The timed loop then works on a byte-identical copy of that
warehouse, so nothing drifts between runs. ``bi_serving`` also runs a
subset of the operator headline over generated TPC-H-shaped tables.
"""

from __future__ import annotations

import random
import shutil
import statistics
import time
from pathlib import Path

import pandas as pd
from pyspark import SparkContext

from mergermetrics_lakehouse_pipeline_spark import registry
from mergermetrics_lakehouse_pipeline_spark.operators import incremental, merge
from mergermetrics_lakehouse_pipeline_spark.sources import delta_log

from . import gen, oracle
from .medallion import BI_KINDS, Lakehouse, start_session
from .tracing import (
    DeltaLog,
    Py4jCounter,
    RssSampler,
    Tracer,
    disk_bytes,
    job_interval,
    num_records,
    spark_jobs,
    union_length,
)

#: a cold cycle took 17 to 41 s on 4 cores where a warm one took 11 to 17 s
WARMUP_CYCLES = 1
#: dashboard tiles are driver-bound (planning, py4j) and keep getting
#: faster while the JIT warms; this many whole rounds of the serving mix
#: run before the timed loop. A count, not a time, so a slow host does
#: not also leave the timed queries colder
BI_WARMUP_ROUNDS = 1
#: the timed loop runs at least this many rounds (about 10 s each on 4
#: cores): on a shared host the speed of one thread drifts by tens of
#: percent over seconds, and one round's median moved with it
BI_MIN_ROUNDS = 2
#: ``bench.py`` HEADLINE_V2 rows in the serving mix: the flagship star
#: join and one row per operator kernel family the registry covers
#: (skew, as-of, events, similarity, multimodal)
HEADLINE = [
    "star_join_denorm",
    "skew_salted_join",
    "asof_join_latest_order",
    "events_sessionization",
    "emb_cosine_topk",
    "media_extract_features",
]
TOP_N = (5, 10, 20)


def _tail(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value) at the highest percentile that leaves at least
    ten samples beyond it; None with fewer than eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    k = n - 11  # index of the value with ten samples above it
    return 100.0 * (k + 1) / n, sorted(samples)[k]


class Run:
    """State of one benchmark run."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: Path) -> None:
        self.workload, self.seed, self.seconds, self.work = workload, seed, seconds, work
        self.tr = Tracer(trace)
        self.latencies: list[float] = []
        self.op_windows: list[tuple[float, float]] = []  # epoch seconds, for job attribution
        self.failed = 0
        self.problems: list[str] = []
        self.batch_rows: list[int] = []

    # -- tracing hooks (traced runs only) --------------------------------
    def _instrument(self) -> None:
        tr = self.tr

        def hooked(fn):
            def after(args, kwargs, result):
                with tr.span("trace.hooks"):
                    fn(args, kwargs, result)
            return after

        def commit_stats(table: str, version: int) -> None:
            log = DeltaLog(table)
            actions = log.actions(version)
            live_before = log.live_files(version - 1) if version > 0 else {}
            adds = [a["add"] for a in actions if "add" in a]
            removes = [a["remove"]["path"] for a in actions if "remove" in a]
            tr.count("delta_log.files_added", len(adds))
            tr.count("delta_log.bytes_written", sum(a["size"] for a in adds)
                     + sum(a["cdc"]["size"] for a in actions if "cdc" in a))
            tr.count("delta_log.files_rewritten", len(removes))
            tr.count("delta_log.rows_rewritten", sum(num_records(live_before[p]) for p in removes if p in live_before))

        def on_write(args, kwargs, version):
            commit_stats(args[1], version)

        def on_merge(args, kwargs, result):
            version, _n = result
            if version in DeltaLog(args[1]).versions() and version > 0:
                commit_stats(args[1], version)

        def on_snapshot(args, kwargs, snap):
            ckpt = DeltaLog(args[1]).last_checkpoint(snap.version)
            tr.count("delta_log.commits_replayed", snap.version + 1 if ckpt is None else snap.version - ckpt)

        def on_read(args, kwargs, _df):
            tr.count("delta_log.files_scanned", len(DeltaLog(args[1]).live_files()))

        def on_read_pruned(args, kwargs, result):
            tr.count("delta_log.files_scanned", len(DeltaLog(args[1]).live_files()) - result[1])

        for module, attr, name, after in [
            (delta_log, "write_delta", "delta_log.write_delta", on_write),
            (delta_log, "merge_delta", "delta_log.merge_delta", on_merge),
            (delta_log, "snapshot", "delta_log.snapshot", on_snapshot),
            (delta_log, "read_delta", "delta_log.read_delta", on_read),
            (delta_log, "read_delta_pruned", "delta_log.read_delta_pruned", on_read_pruned),
            (incremental, "recompute_affected_periods", "operators.incremental.recompute", None),
            (merge, "merge_dataframes", "operators.merge.merge_dataframes", None),
        ]:
            tr.instrument(module, attr, name, hooked(after) if after else None)

    # -- the run ----------------------------------------------------------
    def execute(self) -> None:
        t0 = time.perf_counter()
        with RssSampler() as self.rss:
            with self.tr.span("setup.generate"):
                self.inputs = gen.generate(self.seed, self.work / "inputs")
                if self.workload == "bi_serving":
                    self.tables = gen.generate_tables(self.seed, self.work / "tables")
            self._instrument()
            spark = start_session(self.tr, self.work, ui=self.tr.enabled)
            gateway = SparkContext._gateway
            try:
                spark.sparkContext.setLogLevel("ERROR")
                self.py4j = Py4jCounter(spark, self.tr) if self.tr.enabled else None
                self.state = self.work / "state"
                t_load = time.perf_counter()
                with self.tr.span("setup.full_load"):
                    Lakehouse(spark, self.state, self.tr).full_load(self.inputs)
                self.full_load_s = time.perf_counter() - t_load
                self.live = self.work / "live"
                if self.workload == "incremental_cycles":
                    self._incremental(spark, t0)
                else:
                    self._bi(spark, t0)
                self.problems += oracle.check_load(self.state, self.inputs.truth)
                if self.tr.enabled:
                    self.jobs = spark_jobs(spark)
                    self.py4j.close()
            finally:
                self.tr.restore()
                spark.stop()
                if gateway is not None:
                    # the JVM exits when its stdin closes; wait for it
                    gateway.shutdown()
                    gateway.proc.stdin.close()
                    gateway.proc.wait(timeout=120)
        if self.problems:
            self.failed = len(self.latencies)

    def _fresh_copy(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.state, self.live)

    def _timed(self, t0: float, op, round_len: int = 1, rounds: int = 1, limit: int | None = None) -> None:
        """Closed loop, one client: run ``op(i)`` back to back until the
        run's seconds are spent, then finish the current round of
        ``round_len`` ops (at least ``rounds`` rounds); never more than
        ``limit`` ops."""
        self.setup_s = time.perf_counter() - t0
        deadline = time.perf_counter() + self.seconds
        i = 0
        while (limit is None or i < limit) and (
            i < rounds * round_len or i % round_len or time.perf_counter() < deadline
        ):
            self.tr.op = i
            w0, p0 = time.time(), time.perf_counter()
            with self.tr.span("op"):
                op(i)
            self.latencies.append(time.perf_counter() - p0)
            self.op_windows.append((w0, time.time()))
            i += 1
        self.tr.op = None
        self.measured_s = time.perf_counter() - (deadline - self.seconds)
        # the peak covers set-up and the timed ops, not the DuckDB checks
        self.rss.stop()
        self.peak_rss_mb = self.rss.peak_bytes / 2**20

    def _incremental(self, spark, t0: float) -> None:
        self._fresh_copy()
        lh = Lakehouse(spark, self.live, self.tr)
        # the warm-up days commit to the live tables, so the timed days
        # run on other batches, against a log longer than the load's
        for batch in self.inputs.batches[:WARMUP_CYCLES]:
            lh.incremental_day(batch)
        timed = self.inputs.batches[WARMUP_CYCLES:]
        warm = sum(disk_bytes(self.live))
        self.batch_rows = [b.read_text().count("\n") - 1 for b in timed]
        self._timed(t0, lambda i: lh.incremental_day(timed[i]), limit=len(timed))
        n = len(self.latencies)
        self.problems += oracle.check_cycles(self.live, self.inputs.truth, WARMUP_CYCLES + n)
        # what the timed cycles added on disk per byte of daily CSV they ingested
        self.stored = disk_bytes(self.live)
        self.stored_ratio = (sum(self.stored) - warm) / sum(b.stat().st_size for b in timed[:n])

    def _bi(self, spark, t0: float) -> None:
        rng = random.Random(self.seed)
        months = [
            f"{d:%Y-%m-%d}" for d in pd.date_range(gen.LOAD_START, gen.BATCH_START, freq="MS", inclusive="left")
        ]

        def arg(kind: str):
            if kind == "top_products":
                return rng.choice(TOP_N)
            return rng.choice(months) if kind == "month_slice" else None

        kinds = BI_KINDS + HEADLINE

        def mix():
            # every round runs each dashboard tile and each headline row
            # once, in a seeded order
            while True:
                for kind in rng.sample(kinds, len(kinds)):
                    yield kind, arg(kind)

        self._fresh_copy()
        lh = Lakehouse(spark, self.live, self.tr)
        tables = str(self.tables)
        with self.tr.span("registry.queries_build"):
            qs = registry.queries()
        queries = mix()

        def query(kind: str, a):
            """One tile (its rows) or one headline row (its frame, as
            the correctness gate reads it)."""
            if kind in HEADLINE:
                with self.tr.span(f"registry.{kind}"):
                    return qs[kind](spark, tables).toPandas()
            with self.tr.span(f"plans.star.{kind}"):
                df = lh.bi_query(kind, a)
                if self.tr.enabled:
                    with self.tr.span("plans.star.plan"):
                        df._jdf.queryExecution().executedPlan()
                return [tuple(r) for r in df.collect()]

        for _ in range(BI_WARMUP_ROUNDS * len(kinds)):
            query(*next(queries))
        results: list[tuple[str, object, object]] = []

        def op(_i: int) -> None:
            kind, a = next(queries)
            results.append((kind, a, query(kind, a)))

        self._timed(t0, op, len(kinds), BI_MIN_ROUNDS)
        bi = oracle.BiOracle(self.live)
        headline = oracle.HeadlineOracle(self.tables)
        wrong = [
            (k, a) for k, a, out in results
            if not (headline.matches(k, out) if k in HEADLINE else bi.matches(k, a, out))
        ]
        self.failed += len(wrong)
        self.problems += [f"{k}({a}) differs from DuckDB" for k, a in wrong[:5]]
        self.stored = disk_bytes(self.live)
        self.stored_ratio = sum(self.stored) / self.inputs.input_bytes

    # -- report -------------------------------------------------------------
    def result(self) -> dict:
        n = len(self.latencies)
        if self.tr.enabled:
            metrics = self._per_layer()
        else:
            metrics = {
                "setup_s": (self.setup_s, "s"),
                "full_load_s": (self.full_load_s, "s"),
                "op_s_p50": (statistics.median(self.latencies), "s"),
                "peak_rss_mb": (self.peak_rss_mb, "MB"),
                "stored_bytes_per_input_byte": (self.stored_ratio, "ratio"),
            }
        return {
            "correct": not self.problems,
            "attempted": n,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def summary(self) -> str:
        """Human-readable line printed before the JSON result."""
        n = len(self.latencies)
        tail = _tail(self.latencies)
        tail_s = f"p{tail[0]:.0f}={tail[1]:.3f}s" if tail else f"max={max(self.latencies):.3f}s (n<11, no tail percentile)"
        data, log = self.stored
        return (
            f"{self.workload} seed={self.seed}: ops={n} failed_op_ratio={self.failed / n:.3f} "
            f"op p50={statistics.median(self.latencies):.3f}s {tail_s} ops_per_s={n / self.measured_s:.3f} "
            f"setup={self.setup_s:.1f}s "
            f"full_load={self.full_load_s:.1f}s peak_rss={self.peak_rss_mb:.0f}MB "
            f"stored data={data} log={log} bytes"
            + (f" problems={self.problems}" if self.problems else "")
        )

    def _per_layer(self) -> dict[str, tuple[float, str]]:
        """Per-layer metrics: set-up layers per full load, the rest per
        timed op (zero where the workload does not reach the layer)."""
        tr, n = self.tr, len(self.latencies)
        load = next(s for s in tr.spans if s.name == "setup.full_load")

        def load_time(name: str) -> float:
            return sum(s.end - s.start for s in tr.spans
                       if s.name == name and load.start <= s.start and s.end <= load.end)

        def load_count(name: str) -> float:
            return sum(v for k, v, _op, t in tr.counts if k == name and load.start <= t <= load.end)

        def op_time(*names: str) -> float:
            return sum(s.end - s.start for s in tr.spans if s.name in names and s.op is not None) / n

        def op_count(name: str) -> float:
            return sum(v for k, v, op, _t in tr.counts if k == name and op is not None) / n

        def op_mean(name: str) -> float:
            v = [s.end - s.start for s in tr.spans if s.name == name and s.op is not None]
            return statistics.mean(v) if v else 0.0

        headline = {q: op_mean(f"registry.{q}") for q in HEADLINE}
        rewritten_rows = op_count("delta_log.rows_rewritten") * n
        useful = sum(self.batch_rows[:n]) / max(rewritten_rows, 1) if self.batch_rows else 0.0

        windows = self.op_windows
        op_jobs = [
            (j, iv) for j in self.jobs if (iv := job_interval(j)) and any(lo <= iv[0] <= hi for lo, hi in windows)
        ]
        busy = union_length([
            (max(iv[0], lo), min(iv[1], hi)) for _j, iv in op_jobs for lo, hi in windows if iv[0] < hi and iv[1] > lo
        ])
        wall = sum(hi - lo for lo, hi in windows)
        root_self = sum(o for s, o in zip(tr.spans, tr.self_times()) if s.name == "op" and s.op is not None)

        return {
            "session.get_spark_s": (sum(s.end - s.start for s in tr.spans if s.name == "session.get_spark"), "s"),
            "sources.csv.read_s": (load_time("sources.csv.read"), "s"),
            "pipeline.customers.gold_s": (load_time("pipeline.customers.gold"), "s"),
            "pipeline.products.gold_s": (load_time("pipeline.products.gold"), "s"),
            "pipeline.pricing.gold_s": (load_time("pipeline.pricing.gold"), "s"),
            "pipeline.fact.daily_s": (load_time("pipeline.fact.daily"), "s"),
            "pipeline.fact.monthly_s": (load_time("pipeline.fact.monthly"), "s"),
            "delta_log.write_delta_s": (load_time("delta_log.write_delta"), "s"),
            "delta_log.bytes_written_per_input_byte": (
                load_count("delta_log.bytes_written") / self.inputs.input_bytes, "ratio"),
            "delta_log.files_added": (load_count("delta_log.files_added"), "count"),
            "delta_log.merge_delta_s": (op_time("delta_log.merge_delta"), "s"),
            "delta_log.files_added_per_op": (op_count("delta_log.files_added"), "count"),
            "delta_log.files_rewritten": (op_count("delta_log.files_rewritten"), "count"),
            "delta_log.rewrite_useful_ratio": (useful, "ratio"),
            "delta_log.snapshot_s": (op_time("delta_log.snapshot"), "s"),
            "delta_log.commits_replayed": (op_count("delta_log.commits_replayed"), "count"),
            "delta_log.read_delta_s": (op_time("delta_log.read_delta", "delta_log.read_delta_pruned"), "s"),
            "delta_log.files_scanned": (op_count("delta_log.files_scanned"), "count"),
            "operators.incremental.recompute_s": (op_time("operators.incremental.recompute"), "s"),
            "operators.merge.merge_dataframes_s": (op_time("operators.merge.merge_dataframes"), "s"),
            **{f"plans.star.{k}_s": (op_mean(f"plans.star.{k}"), "s") for k in BI_KINDS},
            "plans.star.plan_s": (op_mean("plans.star.plan"), "s"),
            **{f"registry.{q}_s": (v, "s") for q, v in headline.items()},
            "registry.headline_total_s": (sum(headline.values()), "s"),
            "registry.queries_build_s": (
                sum(s.end - s.start for s in tr.spans if s.name == "registry.queries_build"), "s"),
            "spark.jobs_per_op": (len(op_jobs) / n, "count"),
            "spark.stages_per_op": (sum(j["numCompletedStages"] for j, _ in op_jobs) / n, "count"),
            "spark.tasks_per_op": (sum(j["numCompletedTasks"] for j, _ in op_jobs) / n, "count"),
            "spark.job_busy_s": (busy / n, "s"),
            "driver.outside_jobs_s": ((wall - busy) / n, "s"),
            "py4j.calls_per_op": (sum(v for k, v in self.py4j.by_op.items() if k is not None) / n, "count"),
            "trace.unattributed_s": (root_self / n, "s"),
            "trace.hooks_s": (op_time("trace.hooks"), "s"),
            "trace.op_s_p50": (statistics.median(self.latencies), "s"),
        }


def run(workload: str, seed: int, seconds: int, trace: bool, work: Path) -> Run:
    r = Run(workload, seed, seconds, trace, work)
    r.execute()
    return r
