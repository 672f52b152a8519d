"""Unit tests for the catalog-table MERGE operators (Delta-parity
semantics): the pure ``merge_dataframes`` rewrite and the table-level
entry points that apply it to a saved parquet table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mergermetrics_lakehouse_pipeline_spark.operators.merge import (
    insert_only,
    merge_dataframes,
    upsert_all,
    upsert_mapped,
)
from mergermetrics_lakehouse_pipeline_spark.sources.catalog import write_table


@pytest.fixture()
def target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (None, "n", 0.0)], ["k", "v", "x"]
    )


def test_update_all_insert_all(spark, target):
    source = spark.createDataFrame([(2, "B", 99.0), (3, "c", 30.0)], ["k", "v", "x"])
    out = {r.k: r for r in merge_dataframes(target, source, ["k"]).collect()}
    assert out[1].v == "a"  # unmatched target passes through
    assert out[2].v == "B" and out[2].x == 99.0  # matched takes source
    assert out[3].v == "c"  # unmatched source inserted
    assert out[None].v == "n"  # NULL key target row survives (eqNullSafe)
    assert len(out) == 4


def test_null_key_matches_null_key(spark, target):
    source = spark.createDataFrame([(None, "N", 5.0)], "k bigint, v string, x double")
    out = {r.k: r for r in merge_dataframes(target, source, ["k"]).collect()}
    assert out[None].v == "N"  # eqNullSafe: NULL source key updates NULL target key
    assert len(out) == 3


def test_insert_only_never_updates(spark, target):
    source = spark.createDataFrame([(2, "B", 99.0), (3, "c", 30.0)], ["k", "v", "x"])
    out = {r.k: r for r in merge_dataframes(target, source, ["k"], insert_only=True).collect()}
    assert out[2].v == "b"  # existing row untouched
    assert out[3].v == "c"
    assert len(out) == 4


def test_duplicate_source_keys_rejected(spark, target):
    source = spark.createDataFrame([(2, "B", 1.0), (2, "C", 2.0)], ["k", "v", "x"])
    with pytest.raises(ValueError, match="multiple rows per key"):
        merge_dataframes(target, source, ["k"])


def test_mapped_update_and_insert(spark, target):
    source = spark.createDataFrame([(2, "ignored", 99.0), (3, "ignored", 30.0)], ["k", "v", "x"])
    out = {
        r.k: r
        for r in merge_dataframes(
            target,
            source,
            ["k"],
            update_set={"x": F.col("s.x")},
            insert_values={"k": F.col("s.k"), "v": F.lit("new"), "x": F.col("s.x")},
        ).collect()
    }
    assert out[2].v == "b" and out[2].x == 99.0  # only x updated
    assert out[3].v == "new" and out[3].x == 30.0  # insert map applied


def test_multi_key_merge(spark):
    target = spark.createDataFrame([(1, "2024", 10.0), (1, "2025", 11.0)], ["k", "y", "p"])
    source = spark.createDataFrame([(1, "2025", 99.0), (2, "2025", 5.0)], ["k", "y", "p"])
    out = {(r.k, r.y): r.p for r in merge_dataframes(target, source, ["k", "y"]).collect()}
    assert out[(1, "2024")] == 10.0 and out[(1, "2025")] == 99.0 and out[(2, "2025")] == 5.0


# --- table-level entry points (J5/J6/J7) on a saved parquet table ---------

_TARGET_ROWS = [(1, "a", 10.0), (2, "b", 20.0), (None, "n", 0.0)]
_TARGET_SCHEMA = "k bigint, v string, x double"


def _check_table_merge(spark, name, apply, **merge_kwargs):
    """Save the fixture rows as ``name``, run ``apply(name, source)`` and
    compare the table with ``merge_dataframes`` on the same inputs; the
    staged rewrite must leave no ``__stage_`` table behind."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    write_table(spark.createDataFrame(_TARGET_ROWS, _TARGET_SCHEMA), name)
    source = spark.createDataFrame(
        [(2, "B", 99.0), (3, "c", 30.0), (None, "N", 5.0)], _TARGET_SCHEMA
    )
    expected = merge_dataframes(
        spark.createDataFrame(_TARGET_ROWS, _TARGET_SCHEMA),
        source,
        ["k"],
        **merge_kwargs,
    ).collect()
    apply(name, source)
    got = spark.table(name).collect()
    assert sorted(got, key=repr) == sorted(expected, key=repr)
    stages = [t.name for t in spark.catalog.listTables() if "__stage_" in t.name]
    assert not stages, stages
    spark.sql(f"DROP TABLE {name}")
    return got


def test_table_upsert_all(spark):
    """J5: update-all / insert-all in place."""
    got = _check_table_merge(
        spark, "mt_upsert_all", lambda t, s: upsert_all(t, s, ["k"])
    )
    out = {r.k: r for r in got}
    assert out[2].v == "B" and out[3].v == "c" and out[None].v == "N"
    assert len(got) == 4


def test_table_upsert_mapped(spark):
    """J6: explicit update/insert column maps in place."""
    update_set = {"x": F.col("s.x")}
    insert_values = {"k": F.col("s.k"), "v": F.lit("new"), "x": F.col("s.x")}
    got = _check_table_merge(
        spark,
        "mt_upsert_mapped",
        lambda t, s: upsert_mapped(t, s, ["k"], update_set, insert_values),
        update_set=update_set,
        insert_values=insert_values,
    )
    out = {r.k: r for r in got}
    assert out[2].v == "b" and out[2].x == 99.0  # only x updated
    assert out[3].v == "new"  # insert map applied


def test_table_insert_only(spark):
    """J7: insert-only append-dedupe in place; existing rows never change."""
    got = _check_table_merge(
        spark,
        "mt_insert_only",
        lambda t, s: insert_only(t, s, ["k"]),
        insert_only=True,
    )
    out = {r.k: r for r in got if r.k is not None}
    assert out == {1: (1, "a", 10.0), 2: (2, "b", 20.0), 3: (3, "c", 30.0)}
    # a NULL source key matches the NULL target key (eqNullSafe, as in
    # J5/J6), so identical re-runs never re-insert the NULL-keyed row
    assert [r.v for r in got if r.k is None] == ["n"]
    spark.sql("DROP TABLE IF EXISTS mt_insert_only_rerun")
    write_table(
        spark.createDataFrame(_TARGET_ROWS, _TARGET_SCHEMA),
        "mt_insert_only_rerun",
    )
    source = spark.createDataFrame([(None, "N", 5.0)], _TARGET_SCHEMA)
    for _ in range(3):
        insert_only("mt_insert_only_rerun", source, ["k"])
        rows = spark.table("mt_insert_only_rerun").collect()
        assert sorted(rows, key=repr) == sorted(
            spark.createDataFrame(_TARGET_ROWS, _TARGET_SCHEMA).collect(),
            key=repr,
        )
    spark.sql("DROP TABLE mt_insert_only_rerun")


def _jobs_of(spark, fn):
    """(result or raised error, ids of the Spark jobs ``fn`` launched)."""
    import uuid

    sc = spark.sparkContext
    group = f"merge-guard-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "merge guard test")
    try:
        out = fn()
    except ValueError as exc:
        out = exc
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_duplicate_guard_runs_two_jobs(spark):
    """Plain and NULL-key duplicates raise (NULL keys group together, as
    MERGE matches them with <=>), a unique source passes, and each check
    of a source without its own shuffle runs at most two Spark jobs."""
    from mergermetrics_lakehouse_pipeline_spark.operators.merge import (
        _assert_unique_source,
    )

    schema = "k bigint, j string, v string"
    cases = {
        "plain": ([(1, "a", "x"), (1, "a", "y"), (2, "a", "z")], True),
        "null key": ([(None, None, "x"), (None, None, "y")], True),
        "null in one key": ([(1, None, "x"), (1, None, "y")], True),
        "unique": ([(1, "a", "x"), (1, "b", "y"), (None, "a", "z")], False),
    }
    for name, (rows, dup) in cases.items():
        source = spark.createDataFrame(rows, schema)
        out, jobs = _jobs_of(
            spark, lambda s=source: _assert_unique_source(s, ["k", "j"])
        )
        assert isinstance(out, ValueError) == dup, name
        assert 1 <= len(jobs) <= 2, (name, jobs)
