"""Rules every Delta commit follows now that one builder authors them:
one row-tracking predicate, the ``txn`` guard on every writer that
stamps a ``txn`` action, and insert-only MERGE as a plain append on
append-only and row-tracking tables."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mergermetrics_lakehouse_pipeline_spark.sources import delta_log as dl
from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
    ConcurrentModificationError,
    DeltaProtocolError,
    delete_delta_dv,
    last_txn_version,
    merge_delta,
    overwrite_partitions_delta,
    read_delta,
    read_delta_row_ids,
    restore_delta,
    snapshot,
    write_delta,
)


@pytest.fixture()
def tbl(tmp_path):
    return str(tmp_path / "t")


def _kp(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("p"),
    )


def _last_adds(tbl):
    v = snapshot(None, tbl).version
    return [a["add"] for a in dl._parse_commit(tbl, v) if "add" in a]


def test_row_tracking_property_without_domain_stamps_partition_overwrite(
    spark, tbl
):
    """A foreign partitioned table that enables row tracking by property
    but has no delta.rowTracking domain yet: a dynamic partition
    overwrite must assign row ids like every other writer."""
    os.makedirs(os.path.join(tbl, "_delta_log"))
    schema = _kp(spark, 0, 1).schema.json()
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                      "writerFeatures": ["appendOnly", "domainMetadata",
                                         "invariants", "rowTracking"]}},
        {"metaData": {"id": "foreign-table", "format": {"provider": "parquet",
                      "options": {}}, "schemaString": schema,
                      "partitionColumns": ["p"],
                      "configuration": {"delta.enableRowTracking": "true"}}},
        {"commitInfo": {"timestamp": 1, "operation": "CREATE TABLE"}},
    ]
    assert dl._try_write_commit(tbl, 0, actions)
    overwrite_partitions_delta(_kp(spark, 0, 10), tbl, partition_by=["p"])
    adds = _last_adds(tbl)
    assert adds and all("baseRowId" in a for a in adds)
    overwrite_partitions_delta(
        _kp(spark, 20, 30).filter("p = 'a'"), tbl, partition_by=["p"]
    )
    ids = [r._row_id for r in read_delta_row_ids(spark, tbl).collect()]
    assert len(ids) == len(set(ids)) == 10
    # the replaced partition's rows got ids above the first write's mark
    assert min(r._row_id for r in read_delta_row_ids(spark, tbl)
               .filter("p = 'a'").collect()) >= 10


def test_overwrite_schema_keeps_txn_guard(spark, tbl, monkeypatch):
    """A concurrent commit carrying only a txn for the same appId (a
    foreign sink's empty batch) must abort a schema-replacing overwrite
    that stamps that appId, not rebase under it."""
    write_delta(_kp(spark, 0, 4), tbl, mode="overwrite")
    real = dl._stage_write

    def staged_then_raced(df, table_path, partition_by, subdir=""):
        added = real(df, table_path, partition_by, subdir)
        nxt = max(dl._scan_log(table_path)[0]) + 1
        dl._try_write_commit(
            table_path, nxt, [{"txn": {"appId": "job-1", "version": 9}}]
        )
        return added

    monkeypatch.setattr(dl, "_stage_write", staged_then_raced)
    df = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ConcurrentModificationError, match="job-1"):
        write_delta(df, tbl, mode="overwrite", overwrite_schema=True,
                    txn=("job-1", 8))
    monkeypatch.undo()
    assert last_txn_version(spark, tbl, "job-1") == 9
    assert snapshot(spark, tbl).version == 1
    assert read_delta(spark, tbl).columns == ["k", "p"]


def test_insert_only_merge_on_append_only_table(spark, tbl):
    write_delta(_kp(spark, 0, 10), tbl, mode="overwrite",
                configuration={"delta.appendOnly": "true"})
    v, n = merge_delta(spark, tbl, _kp(spark, 5, 15), "k",
                       when_matched="ignore")
    assert (v, n) == (1, 0)
    kinds = {next(iter(a)) for a in dl._parse_commit(tbl, 1)}
    assert kinds == {"add", "commitInfo"}
    assert sorted(r.k for r in read_delta(spark, tbl).collect()) == list(range(15))
    with pytest.raises(DeltaProtocolError, match="appendOnly"):
        merge_delta(spark, tbl, _kp(spark, 0, 3), "k")


def test_insert_only_merge_on_row_tracking_table(spark, tbl):
    write_delta(_kp(spark, 0, 20), tbl, mode="overwrite",
                configuration={"delta.enableRowTracking": "true"})
    merge_delta(spark, tbl, _kp(spark, 15, 30), "k", when_matched="ignore")
    d = read_delta_row_ids(spark, tbl)
    ids = {r.k: r._row_id for r in d.collect()}
    assert len(ids) == 30 and len(set(ids.values())) == 30
    # new rows sit above the old high-water mark (19)
    assert min(ids[k] for k in range(20, 30)) > 19
    dm = snapshot(spark, tbl).domain_metadata["delta.rowTracking"]
    assert json.loads(dm["configuration"])["rowIdHighWaterMark"] == 29
    # an updating MERGE still rewrites files and stays rejected
    with pytest.raises(DeltaProtocolError, match="row-tracking"):
        merge_delta(spark, tbl, _kp(spark, 0, 3), "k")


def test_restore_undoes_deletion_vectors(spark, tbl):
    """RESTORE to a version before a DV delete brings the deleted rows
    back: the same file with a different deletion vector is a change."""
    write_delta(_kp(spark, 0, 10).coalesce(1), tbl, mode="overwrite")
    delete_delta_dv(spark, tbl, "k", 2, 4)
    assert read_delta(spark, tbl).count() == 7
    restore_delta(spark, tbl, 0)
    assert sorted(r.k for r in read_delta(spark, tbl).collect()) == list(range(10))
    assert not any(
        a.get("deletionVector") for a in snapshot(spark, tbl).files.values()
    )


def test_writer7_protocol_upgrade_adds_only_the_new_feature(spark, tbl):
    """A writer-7 protocol lists every feature the table uses; the first
    deletion-vector DELETE adds ``deletionVectors`` and nothing from the
    legacy writer-version ladder."""
    write_delta(
        spark.range(4).select(F.col("id").alias("k")).coalesce(1), tbl,
        configuration={"delta.enableRowTracking": "true"},
    )
    before = snapshot(spark, tbl).protocol
    assert before["minWriterVersion"] == 7
    delete_delta_dv(spark, tbl, "k", 0, 0)
    after = snapshot(spark, tbl).protocol
    assert after["readerFeatures"] == ["deletionVectors"]
    assert set(after["writerFeatures"]) == (
        set(before["writerFeatures"]) | {"deletionVectors"}
    )
