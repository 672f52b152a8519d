"""What a copy-on-write ``merge_delta`` costs in Spark work.

The rewrite and the change feed are projections of one cached full
outer join, so writing the change rows reads that cache instead of
joining target and source again; cached frames keep the width AQE
coalesces their last shuffle to, so no stage of a small MERGE runs one
task per shuffle partition; and touched-file discovery scans only the
files whose lead-key stats intersect the source's key range."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from mergermetrics_lakehouse_pipeline_spark.sources import delta_log as dl

_CDF = {"delta.enableChangeDataFeed": "true"}


def _write_files(spark, path, frames, **create):
    for i, df in enumerate(frames):
        kw = create if i == 0 else {}
        dl.write_delta(
            df.coalesce(1), path, mode="overwrite" if i == 0 else "append", **kw
        )


def test_change_rows_read_the_cached_join_at_coalesced_width(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    _write_files(
        spark, path,
        [
            spark.range(lo, lo + 50, 1, 1).selectExpr(
                "id AS k", "concat('t', id) AS v"
            )
            for lo in (0, 50, 100)
        ],
        configuration=_CDF,
    )
    # 100 source rows behind a shuffle: 60 updates (keys 90..149, in the
    # second and third file) and 40 inserts
    source = (
        spark.range(0, 200, 1, 2)
        .selectExpr("id % 100 + 90 AS k", "id")
        .groupBy("k")
        .agg(F.max("id").alias("m"))
        .selectExpr("k", "concat('s', m) AS v")
    )
    sc = spark.sparkContext
    merge_group, cdf_group = (f"{n}-{uuid.uuid4().hex}" for n in ("mg", "cdf"))
    stage_cdf = dl._stage_cdf

    def grouped_stage_cdf(*args, **kwargs):
        sc.setJobGroup(cdf_group, "change rows")
        try:
            return stage_cdf(*args, **kwargs)
        finally:
            sc.setJobGroup(merge_group, "merge")

    monkeypatch.setattr(dl, "_stage_cdf", grouped_stage_cdf)
    sc.setJobGroup(merge_group, "merge")
    try:
        v, rewritten = dl.merge_delta(spark, path, source, "k")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    merge_jobs = tracker.getJobIdsForGroup(merge_group)
    cdf_jobs = tracker.getJobIdsForGroup(cdf_group)
    assert (v, rewritten) == (3, 2)
    assert merge_jobs and 1 <= len(cdf_jobs) <= 2, (merge_jobs, cdf_jobs)

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tasks = {}
    for job in list(merge_jobs) + list(cdf_jobs):
        for stage in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(stage)
            if info is not None and info.numCompletedTasks:
                tasks[stage] = info.numCompletedTasks
    assert tasks and width not in tasks.values(), (width, tasks)

    changes = dl.read_cdf(spark, path, from_version=v, to_version=v)
    counts = {
        r["_change_type"]: r["count"]
        for r in changes.groupBy("_change_type").count().collect()
    }
    assert counts == {
        "update_preimage": 60, "update_postimage": 60, "insert": 40,
    }
    assert dl.read_delta(spark, path).count() == 190


def test_discovery_scans_only_files_in_the_source_key_range(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    months = ["2024-01", "2024-02", "2024-03", "2024-04"]
    schema = "month string, product bigint, revenue double"
    _write_files(
        spark, path,
        [
            spark.createDataFrame(
                [(m, p, float(p)) for p in range(5)], schema
            )
            for m in months
        ],
        configuration=_CDF,
    )

    def files(version=None):
        return set(dl.snapshot(spark, path, version).files)

    feb = files(1) - files(0)  # each month is one append's one file
    scans = []
    raw_reader = dl._raw_reader

    class _Recording:
        def __init__(self, reader):
            self._reader = reader

        def parquet(self, *paths):
            scans.append(len(paths))
            return self._reader.parquet(*paths)

    monkeypatch.setattr(
        dl, "_raw_reader", lambda *a, **kw: _Recording(raw_reader(*a, **kw))
    )
    source = spark.createDataFrame(
        [("2024-02", 1, 10.0), ("2024-02", 9, 90.0)], schema
    )
    v, rewritten = dl.merge_delta(spark, path, source, ["month", "product"])
    monkeypatch.undo()
    # discovery, then the rewrite's scans: one file each
    assert scans and set(scans) == {1}, scans
    assert rewritten == 1
    assert files(v - 1) - files(v) == feb
    rows = {
        tuple(r)
        for r in dl.read_delta(spark, path).where("month = '2024-02'").collect()
    }
    assert rows == {("2024-02", p, float(p)) for p in (0, 2, 3, 4)} | {
        ("2024-02", 1, 10.0), ("2024-02", 9, 90.0)
    }
