"""Round-6 Delta reader/writer features over the public protocol:
Change Data Feed (write path + batch/stream readers), column mapping
(name mode) reads, deletion vectors (read + merge-on-read DELETE),
URL-quoted paths, NULL-partition interop, multi-part checkpoint WRITE
and log truncation. Parity targets: the reference enables CDF on every
write (3_pricing_data_processing.py:167-172) and its platform defaults
to column mapping + deletion vectors on modern tables."""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
    ConcurrentModificationError,
    DeltaProtocolError,
    _commit,
    delete_delta,
    delete_delta_dv,
    merge_delta,
    optimize_delta,
    overwrite_partitions_delta,
    read_cdf,
    read_delta,
    read_delta_pruned,
    snapshot,
    stream_cdf_batches,
    stream_commit_batches,
    truncate_log,
    update_delta,
    update_rows,
    vacuum_delta,
    write_checkpoint,
    write_delta,
)


@pytest.fixture()
def tbl(tmp_path):
    return str(tmp_path / "t")


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _kv(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


# --------------------------------------------------------------------------
# Change Data Feed
# --------------------------------------------------------------------------


def test_cdf_capture_and_batch_read(spark, tbl):
    """DELETE/UPDATE on a CDF-enabled table emit _change_data rows;
    read_cdf returns the full row-level change history with preimages
    and postimages."""
    df = _kv(spark).repartitionByRange(4, "k")
    write_delta(
        df, tbl, mode="overwrite",
        configuration={"delta.enableChangeDataFeed": "true"},
    )  # v0: 40 inserts
    delete_delta(spark, tbl, "k", 0, 9)  # v1: 10 deletes
    update_delta(spark, tbl, "k", 10, 14, {"v": "v + 1"})  # v2: 5 pre + 5 post

    cdf = read_cdf(spark, tbl)
    counts = {
        (r["_change_type"], r["_commit_version"]): r["n"]
        for r in cdf.groupBy("_change_type", "_commit_version")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts == {
        ("insert", 0): 40,
        ("delete", 1): 10,
        ("update_preimage", 2): 5,
        ("update_postimage", 2): 5,
    }
    # postimage values reflect the SET expression
    post = cdf.filter("_change_type = 'update_postimage'")
    assert _rows(post.select("k", "v")) == {(k, k * 10 + 1) for k in range(10, 15)}
    # cdc files are invisible to snapshot scans
    assert read_delta(spark, tbl).count() == 30


def test_cdf_stream_folds_to_final_state(spark, tbl):
    """stream_cdf_batches replays appends AND copy-on-write DML — the
    r5 gap where DML'd tables could not be streamed. Folding the change
    stream (apply inserts/deletes, replace preimage with postimage)
    reproduces the final snapshot exactly."""
    df = _kv(spark).repartitionByRange(4, "k")
    write_delta(
        df.filter("k < 30"), tbl, mode="overwrite",
        configuration={"delta.enableChangeDataFeed": "true"},
    )  # v0
    write_delta(df.filter("k >= 30"), tbl, mode="append")  # v1
    delete_delta(spark, tbl, "k", 5, 9)  # v2
    update_delta(spark, tbl, "k", 20, 24, {"v": "v * 2"})  # v3

    state: set[tuple] = set()
    versions = []
    for v, batch in stream_cdf_batches(spark, tbl):
        versions.append(v)
        for r in batch.collect():
            row = (r["k"], r["v"])
            if r["_change_type"] in ("insert", "update_postimage"):
                state.add(row)
            elif r["_change_type"] in ("delete", "update_preimage"):
                state.discard(row)
    assert versions == [0, 1, 2, 3]
    assert state == _rows(read_delta(spark, tbl))

    # the plain append-only source refuses the DML'd history...
    with pytest.raises(DeltaProtocolError, match="stream_cdf_batches"):
        list(stream_commit_batches(spark, tbl))
    # ...even when starting exactly AT the DML commit (ADVICE r5 #5)
    with pytest.raises(DeltaProtocolError, match="stream_cdf_batches"):
        list(stream_commit_batches(spark, tbl, from_version=2))


def test_cdf_derives_overwrite_without_cdc_files(spark, tbl):
    """Full overwrite is derivable without cdc files (every removed file
    entirely deleted, every added file entirely inserted)."""
    df = _kv(spark, 10)
    write_delta(df, tbl, mode="overwrite")  # v0 (CDF off)
    write_delta(df.withColumn("v", F.col("v") + 1), tbl, mode="overwrite")  # v1

    cdf = read_cdf(spark, tbl, from_version=1)
    counts = dict(
        (r["_change_type"], r["n"])
        for r in cdf.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    )
    assert counts == {"delete": 10, "insert": 10}


def test_cdf_requires_capture_for_dml_without_cdc(spark, tbl):
    df = _kv(spark, 10)
    write_delta(df, tbl, mode="overwrite")  # CDF off
    delete_delta(spark, tbl, "k", 0, 3)
    with pytest.raises(DeltaProtocolError, match="enableChangeDataFeed"):
        read_cdf(spark, tbl).collect()


def test_cdf_on_partitioned_table_recovers_partition_values(spark, tbl):
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p")
    )
    write_delta(
        df, tbl, mode="overwrite", partition_by=["p"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delete_delta(spark, tbl, "k", 0, 5)
    dels = read_cdf(spark, tbl, from_version=1).filter(
        "_change_type = 'delete'"
    )
    # partition column p must come back from the _change_data hive dirs
    assert _rows(dels.select("k", "p")) == {(k, k % 2) for k in range(6)}


# --------------------------------------------------------------------------
# column mapping (name mode)
# --------------------------------------------------------------------------


def _author_column_mapped_table(spark, tbl, partitioned: bool):
    """Author a table the way a modern engine with
    delta.columnMapping.mode=name would: parquet files carry PHYSICAL
    column names, the committed schema carries logical names with
    physicalName metadata."""
    phys = spark.range(12).select(
        F.col("id").alias("col-aaa111"),
        F.concat(F.lit("u"), F.col("id")).alias("col-bbb222"),
        (F.col("id") % 3).alias("col-ccc333"),
    )
    os.makedirs(os.path.join(tbl, "_delta_log"))
    writer = phys.write.mode("append").format("parquet")
    if partitioned:
        writer = writer.partitionBy("col-ccc333")
    writer.save(tbl)
    adds = []
    for root, dirs, names in os.walk(tbl):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                rel = os.path.relpath(os.path.join(root, n), tbl)
                pv = {}
                if partitioned:
                    pv = {"col-ccc333": rel.split("=")[1].split("/")[0]}
                adds.append(
                    {
                        "add": {
                            "path": rel,
                            "partitionValues": pv,
                            "size": os.path.getsize(os.path.join(tbl, rel)),
                            "dataChange": True,
                        }
                    }
                )
    schema = StructType(
        [
            StructField(
                "user_id", LongType(), True,
                {"delta.columnMapping.id": 1,
                 "delta.columnMapping.physicalName": "col-aaa111"},
            ),
            StructField(
                "user_name", StringType(), True,
                {"delta.columnMapping.id": 2,
                 "delta.columnMapping.physicalName": "col-bbb222"},
            ),
            StructField(
                "bucket", LongType(), True,
                {"delta.columnMapping.id": 3,
                 "delta.columnMapping.physicalName": "col-ccc333"},
            ),
        ]
    )
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "cm-fixture",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": ["bucket"] if partitioned else [],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "3",
                },
            }
        },
    ] + adds
    with open(os.path.join(tbl, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


@pytest.mark.parametrize("partitioned", [False, True])
def test_column_mapping_name_mode_reads_logical_schema(spark, tbl, partitioned):
    _author_column_mapped_table(spark, tbl, partitioned)
    out = read_delta(spark, tbl)
    assert out.columns == ["user_id", "user_name", "bucket"]
    assert _rows(out) == {(i, f"u{i}", i % 3) for i in range(12)}
    snap = snapshot(spark, tbl)
    assert snap.column_mapping_mode == "name"
    assert snap.physical("user_id") == "col-aaa111"


def test_column_mapping_pruning_uses_physical_stats_keys(spark, tbl):
    _author_column_mapped_table(spark, tbl, partitioned=True)
    # prune on the LOGICAL partition column name
    pruned, skipped = read_delta_pruned(spark, tbl, "bucket", 1, 1)
    assert skipped > 0
    assert _rows(pruned.select("user_id")) == {
        (i,) for i in range(12) if i % 3 == 1
    }


def test_column_mapping_id_mode_without_footer_ids_fails_loudly(spark, tbl):
    """Round 7: id mode is SUPPORTED (tests/test_column_mapping_id.py),
    so a table mislabeled as id whose files carry no parquet field ids
    must fail loudly at scan — resolution by id is the id-mode contract
    and silently falling back to name matching could read wrong
    columns."""
    _author_column_mapped_table(spark, tbl, partitioned=False)
    log = os.path.join(tbl, "_delta_log", f"{0:020d}.json")
    with open(log) as fh:
        lines = [json.loads(line) for line in fh if line.strip()]
    for a in lines:
        if "metaData" in a:
            a["metaData"]["configuration"]["delta.columnMapping.mode"] = "id"
    with open(log, "w") as fh:
        for a in lines:
            fh.write(json.dumps(a) + "\n")
    with pytest.raises(Exception):
        read_delta(spark, tbl).collect()


# --------------------------------------------------------------------------
# deletion vectors
# --------------------------------------------------------------------------


def test_dv_delete_rewrites_zero_data_files(spark, tbl):
    """Merge-on-read DELETE: data files keep their identity, only a
    bitmap is written; reads subtract the deleted rows; time travel to
    the pre-delete version still sees them."""
    df = _kv(spark).repartitionByRange(4, "k")
    write_delta(df, tbl, mode="overwrite")  # v0
    files_v0 = dict(snapshot(spark, tbl).files)

    v, n_dv = delete_delta_dv(spark, tbl, "k", 5, 14)
    assert v == 1 and n_dv >= 1
    snap = snapshot(spark, tbl)
    assert set(snap.files) == set(files_v0)  # SAME data files
    assert snap.protocol["minReaderVersion"] == 3
    assert "deletionVectors" in snap.protocol["readerFeatures"]
    dv_files = [a for a in snap.files.values() if a.get("deletionVector")]
    assert len(dv_files) == n_dv

    got = _rows(read_delta(spark, tbl).select("k"))
    assert got == {(k,) for k in range(40) if not 5 <= k <= 14}
    assert read_delta(spark, tbl, version=0).count() == 40

    # second DV delete on an overlapping range merges bitmaps
    delete_delta_dv(spark, tbl, "k", 10, 19)
    got2 = _rows(read_delta(spark, tbl).select("k"))
    assert got2 == {(k,) for k in range(40) if not 5 <= k <= 19}

    # pruned reads subtract DVs too
    pruned, _ = read_delta_pruned(spark, tbl, "k", 0, 24)
    assert _rows(pruned.filter("k <= 24").select("k")) == {
        (k,) for k in range(25) if not 5 <= k <= 19
    }


def test_dv_then_optimize_purges_physically(spark, tbl):
    df = _kv(spark).repartitionByRange(4, "k")
    write_delta(df, tbl, mode="overwrite")
    delete_delta_dv(spark, tbl, "k", 0, 9)
    optimize_delta(spark, tbl, target_files=2)
    snap = snapshot(spark, tbl)
    assert all(not a.get("deletionVector") for a in snap.files.values())
    assert read_delta(spark, tbl).count() == 30
    # copy-on-write DML over a DV'd snapshot honors the bitmaps too
    tbl2 = tbl + "_cow"
    write_delta(df, tbl2, mode="overwrite")
    delete_delta_dv(spark, tbl2, "k", 0, 9)
    update_delta(spark, tbl2, "k", 10, 14, {"v": "v + 7"})
    got = _rows(read_delta(spark, tbl2))
    want = {
        (k, k * 10 + (7 if 10 <= k <= 14 else 0)) for k in range(10, 40)
    }
    assert got == want


def test_dv_noop_when_no_rows_match(spark, tbl):
    write_delta(_kv(spark, 10), tbl, mode="overwrite")
    v, n = delete_delta_dv(spark, tbl, "k", 100, 200)
    assert (v, n) == (0, 0)


# --------------------------------------------------------------------------
# path quoting + NULL partitions (ADVICE r5 #1/#3)
# --------------------------------------------------------------------------


def test_special_char_partition_values_roundtrip_and_survive_vacuum(spark, tbl):
    df = spark.createDataFrame(
        [(1, "a:b"), (2, "p%q"), (3, "plain"), (4, None)],
        "k long, part string",
    )
    write_delta(df, tbl, mode="overwrite", partition_by=["part"])
    assert _rows(read_delta(spark, tbl)) == _rows(df)
    # vacuum must recognize every live file (a quoting mismatch would
    # DELETE live data)
    assert vacuum_delta(spark, tbl) == []
    assert _rows(read_delta(spark, tbl)) == _rows(df)
    # partitionValues carry the decoded logical value
    snap = snapshot(spark, tbl)
    vals = {a["partitionValues"]["part"] for a in snap.files.values()}
    assert vals == {"a:b", "p%q", "plain", "__HIVE_DEFAULT_PARTITION__"}


def test_null_partition_overwrite_replaces_foreign_null_files(spark, tbl):
    """A foreign engine stores NULL partitionValues as JSON null; a
    dynamic overwrite carrying NULL-partition rows must still replace
    those files instead of duplicating them (ADVICE r5 #3)."""
    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, None)], "k long, part string"
    )
    write_delta(df, tbl, mode="overwrite", partition_by=["part"])
    # rewrite the log the way a foreign writer stores NULL partitions
    log = os.path.join(tbl, "_delta_log", f"{0:020d}.json")
    with open(log) as fh:
        lines = [json.loads(line) for line in fh if line.strip()]
    for a in lines:
        if "add" in a and a["add"]["partitionValues"]["part"] == (
            "__HIVE_DEFAULT_PARTITION__"
        ):
            a["add"]["partitionValues"]["part"] = None
    with open(log, "w") as fh:
        for a in lines:
            fh.write(json.dumps(a) + "\n")

    refresh = spark.createDataFrame([(9, None)], "k long, part string")
    overwrite_partitions_delta(refresh, tbl, partition_by=["part"])
    got = _rows(read_delta(spark, tbl))
    assert got == {(1, "x"), (9, None)}  # old NULL rows replaced, not kept


def test_numeric_probe_on_null_partition_keeps_file(spark, tbl):
    """ADVICE r5 #4: a numeric range probe against a NULL-partition file
    must keep it conservatively, not raise TypeError."""
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k long, part int"
    )
    write_delta(df, tbl, mode="overwrite", partition_by=["part"])
    pruned, skipped = read_delta_pruned(spark, tbl, "part", 5, 15)
    kept = _rows(pruned.select("k"))
    assert (1,) in kept and (2,) in kept  # NULL file kept, match kept
    assert skipped >= 1  # part=30 provably disjoint


# --------------------------------------------------------------------------
# multi-part checkpoint WRITE + log truncation
# --------------------------------------------------------------------------


def test_multipart_checkpoint_write_and_truncated_replay(spark, tbl):
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    write_delta(nation.filter("n_nationkey < 10"), tbl, mode="overwrite")
    write_delta(nation.filter("n_nationkey >= 10"), tbl, mode="append")
    v = write_checkpoint(spark, tbl, parts=3)
    log = os.path.join(tbl, "_delta_log")
    parts = [n for n in os.listdir(log) if ".checkpoint." in n]
    assert len(parts) == 3
    assert json.loads(open(os.path.join(log, "_last_checkpoint")).read()) == {
        "version": v,
        "size": 2 + len(snapshot(spark, tbl).files),
        "parts": 3,
    }

    assert truncate_log(tbl) == [0, 1]
    assert _rows(read_delta(spark, tbl)) == _rows(nation)
    # commits continue on top of the truncated log
    write_delta(nation.filter("n_nationkey = 0"), tbl, mode="append")
    assert read_delta(spark, tbl).count() == nation.count() + 1


# --------------------------------------------------------------------------
# RESTORE + explicit schema overwrite (round 6)
# --------------------------------------------------------------------------


def test_restore_rolls_back_as_new_commit(spark, tbl):
    """RESTORE TO VERSION AS OF: the snapshot equals the target version,
    history is preserved (restore is itself a commit), and a vacuumed
    target fails at scan, not silently."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        restore_delta,
    )

    df = _kv(spark, 30)
    write_delta(df.filter("k < 10"), tbl, mode="overwrite")  # v0
    write_delta(df.filter("k >= 10 and k < 20"), tbl, mode="append")  # v1
    delete_delta(spark, tbl, "k", 0, 4)  # v2
    write_delta(df.filter("k >= 20"), tbl, mode="append")  # v3

    v = restore_delta(spark, tbl, 1)
    assert v == 4
    assert _rows(read_delta(spark, tbl)) == _rows(df.filter("k < 20"))
    # pre-restore state still time-travels
    assert read_delta(spark, tbl, version=3).count() == 25
    # restore of a restore works too
    restore_delta(spark, tbl, 3)
    assert read_delta(spark, tbl).count() == 25


def test_restore_recommits_old_schema(spark, tbl):
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        restore_delta,
    )

    df = _kv(spark, 10)
    write_delta(df, tbl, mode="overwrite")  # v0
    write_delta(
        df.withColumn("extra", F.lit("x")), tbl, mode="append"
    )  # v1: schema evolves
    restore_delta(spark, tbl, 0)
    out = read_delta(spark, tbl)
    assert out.columns == ["k", "v"]  # evolved column gone again
    assert out.count() == 10


def test_overwrite_schema_replaces_schema_and_partitioning(spark, tbl):
    df = _kv(spark, 12)
    write_delta(df, tbl, mode="overwrite")  # v0: (k, v) unpartitioned
    with pytest.raises(DeltaProtocolError, match="type change"):
        write_delta(
            df.withColumn("v", F.col("v").cast("string")), tbl, mode="overwrite"
        )

    replaced = df.select(
        F.col("k").cast("string").alias("k"), (F.col("k") % 3).alias("p")
    )
    v = write_delta(
        replaced, tbl, mode="overwrite",
        partition_by=["p"], overwrite_schema=True,
    )
    snap = snapshot(spark, tbl)
    assert [f.name for f in snap.schema.fields] == ["k", "p"]
    assert snap.partition_columns == ["p"]
    assert _rows(read_delta(spark, tbl)) == _rows(replaced)
    # old schema still readable via time travel
    assert read_delta(spark, tbl, version=v - 1).columns == ["k", "v"]
    with pytest.raises(DeltaProtocolError, match="overwrite_schema requires"):
        write_delta(replaced, tbl, mode="append", overwrite_schema=True)


# --------------------------------------------------------------------------
# version-window VACUUM + CHECK constraints (round 6)
# --------------------------------------------------------------------------


def test_vacuum_retention_window_keeps_time_travel(spark, tbl):
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        vacuum_delta,
    )

    df = _kv(spark, 30)
    write_delta(df.filter("k < 10"), tbl, mode="overwrite")  # v0
    write_delta(df.filter("k < 20"), tbl, mode="overwrite")  # v1
    write_delta(df.filter("k < 5"), tbl, mode="overwrite")  # v2

    removed = vacuum_delta(spark, tbl, retain_last=2)
    assert removed  # v0's files reclaimed
    # the retained window still time-travels
    assert read_delta(spark, tbl, version=1).count() == 20
    assert read_delta(spark, tbl).count() == 5
    with pytest.raises(Exception):
        read_delta(spark, tbl, version=0).collect()
    # retention 0 then reclaims v1
    assert vacuum_delta(spark, tbl, retain_last=1)
    with pytest.raises(Exception):
        read_delta(spark, tbl, version=1).collect()
    assert read_delta(spark, tbl).count() == 5


def test_check_constraints_enforced_on_write(spark, tbl):
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        add_check_constraint,
        snapshot,
    )

    df = _kv(spark, 20)
    write_delta(df, tbl, mode="overwrite")
    v = add_check_constraint(spark, tbl, "v_nonneg", "v >= 0")
    snap = snapshot(spark, tbl)
    assert snap.configuration["delta.constraints.v_nonneg"] == "v >= 0"
    assert snap.protocol["minWriterVersion"] >= 3

    # conforming append lands
    write_delta(
        spark.createDataFrame([(100, 1)], "k long, v long"), tbl, mode="append"
    )
    # violating append is rejected BEFORE any commit
    with pytest.raises(DeltaProtocolError, match="v_nonneg"):
        write_delta(
            spark.createDataFrame([(101, -5)], "k long, v long"),
            tbl,
            mode="append",
        )
    assert read_delta(spark, tbl).count() == 21  # no partial write visible
    # NULL passes (SQL CHECK semantics)
    write_delta(
        spark.createDataFrame([(102, None)], "k long, v long"),
        tbl,
        mode="append",
    )
    assert read_delta(spark, tbl).count() == 22
    # adding a constraint the EXISTING data violates is rejected
    with pytest.raises(DeltaProtocolError, match="k_small"):
        add_check_constraint(spark, tbl, "k_small", "k < 50")
    # constraint created at table creation is enforced too
    tbl2 = tbl + "_c2"
    write_delta(
        df, tbl2, mode="overwrite",
        configuration={"delta.constraints.pos": "k >= 0"},
    )
    with pytest.raises(DeltaProtocolError, match="pos"):
        write_delta(
            spark.createDataFrame([(-1, 0)], "k long, v long"),
            tbl2,
            mode="append",
        )
    assert snapshot(spark, tbl2).protocol["minWriterVersion"] == 3
    assert v == 1


# --------------------------------------------------------------------------
# arbitrary-predicate DML + file-surgery MERGE (round 6)
# --------------------------------------------------------------------------


def test_delete_rows_arbitrary_predicate_touched_files_only(spark, tbl):
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        delete_rows,
    )

    df = spark.range(40).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 3, "CANCELLED").otherwise("OK").alias(
            "status"
        ),
    )
    write_delta(df.repartitionByRange(4, "k"), tbl, mode="overwrite")
    files_v0 = set(snapshot(spark, tbl).files)

    v, n = delete_rows(spark, tbl, "status = 'CANCELLED'")
    assert v == 1 and n == 4  # every range file contains a %10==3 row
    got = _rows(read_delta(spark, tbl))
    assert got == _rows(df.filter("status <> 'CANCELLED'"))

    # a predicate matching nothing touches nothing
    v2, n2 = delete_rows(spark, tbl, "status = 'NOPE'")
    assert (v2, n2) == (1, 0)
    assert set(snapshot(spark, tbl).files) != files_v0  # v1 rewrote

    # NULL predicate rows survive (SQL semantics)
    tbl2 = tbl + "_null"
    dfn = spark.createDataFrame(
        [(1, "A"), (2, None), (3, "B")], "k long, status string"
    )
    write_delta(dfn, tbl2, mode="overwrite")
    delete_rows(spark, tbl2, "status = 'A'")
    assert _rows(read_delta(spark, tbl2)) == {(2, None), (3, "B")}


def test_update_rows_with_cdf(spark, tbl):
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        update_rows,
    )

    df = _kv(spark, 30)
    write_delta(
        df.repartitionByRange(3, "k"), tbl, mode="overwrite",
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    v, n = update_rows(spark, tbl, "k % 7 = 0", {"v": "v + 1"})
    assert v == 1 and n >= 1
    want = df.withColumn(
        "v",
        F.when(F.col("k") % 7 == 0, F.col("v") + 1).otherwise(F.col("v")),
    )
    assert _rows(read_delta(spark, tbl)) == _rows(want)
    cdf = read_cdf(spark, tbl, from_version=1)
    counts = dict(
        (r["_change_type"], r["n"])
        for r in cdf.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    )
    assert counts == {"update_preimage": 5, "update_postimage": 5}


def test_merge_delta_update_and_insert_with_file_surgery(spark, tbl):
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        merge_delta,
    )

    df = _kv(spark, 40)
    write_delta(df.repartitionByRange(8, "k"), tbl, mode="overwrite")
    files_v0 = set(snapshot(spark, tbl).files)

    # source keys confined to [10, 14] + brand-new keys 100..102
    source = spark.createDataFrame(
        [(k, k * 1000) for k in range(10, 15)]
        + [(k, k * 1000) for k in range(100, 103)],
        "k long, v long",
    )
    v, rewritten = merge_delta(spark, tbl, source, "k")
    assert v == 1
    assert 0 < rewritten < 8  # only stats-intersecting files rewritten
    snap = snapshot(spark, tbl)
    # files provably disjoint from [10, 102] keep identity
    assert len(files_v0 & set(snap.files)) >= 1
    got = _rows(read_delta(spark, tbl))
    want = {
        (k, k * 1000 if 10 <= k <= 14 else k * 10) for k in range(40)
    } | {(k, k * 1000) for k in range(100, 103)}
    assert got == want

    # duplicate source keys are ambiguous -> rejected
    dup = spark.createDataFrame([(1, 1), (1, 2)], "k long, v long")
    with pytest.raises(DeltaProtocolError, match="duplicate"):
        merge_delta(spark, tbl, dup, "k")


def _action_kinds(tbl, v):
    with open(
        os.path.join(tbl, "_delta_log", f"{v:020d}.json"), encoding="utf-8"
    ) as fh:
        return Counter(next(iter(json.loads(line))) for line in fh)


def test_merge_delta_insert_only_and_cdf(spark, tbl):
    """An insert-only MERGE changes no target row, so it commits as an
    append: add actions only, which CDF reads as inserts and the
    append-only commit stream accepts; re-applying the batch inserts
    nothing and writes no commit."""
    df = _kv(spark, 20)
    write_delta(
        df, tbl, mode="overwrite",
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    source = spark.createDataFrame(
        [(5, 999), (6, 999), (50, 500)], "k long, v long"
    )
    assert merge_delta(spark, tbl, source, "k", when_matched="ignore") == (1, 0)
    got = _rows(read_delta(spark, tbl))
    # matched rows keep current values; only k=50 inserted
    assert got == _rows(df) | {(50, 500)}
    assert set(_action_kinds(tbl, 1)) == {"add", "commitInfo"}

    cdf = read_cdf(spark, tbl, from_version=1)
    assert _rows(cdf.select("k", "v", "_change_type")) == {(50, 500, "insert")}
    streamed = [
        (v, _rows(b)) for v, b in stream_commit_batches(spark, tbl, from_version=1)
    ]
    assert streamed == [(1, {(50, 500)})]
    assert merge_delta(spark, tbl, source, "k", when_matched="ignore") == (1, 0)
    assert _rows(read_delta(spark, tbl)) == got

    # update MERGE with CDF: pre+post+insert captured
    source2 = spark.createDataFrame([(0, 7), (60, 6)], "k long, v long")
    merge_delta(spark, tbl, source2, "k")
    cdf2 = read_cdf(spark, tbl, from_version=2)
    counts2 = dict(
        (r["_change_type"], r["n"])
        for r in cdf2.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    )
    assert counts2 == {
        "update_preimage": 1,
        "update_postimage": 1,
        "insert": 1,
    }


def _racing_append(df):
    """A commit_fn that lets a concurrent append of ``df`` win the
    version the caller read, then commits the caller's actions."""

    def commit_fn(table_path, actions, guard, base_version):
        write_delta(df, table_path, mode="append")
        return _commit(table_path, actions, guard, base_version)

    return commit_fn


def test_insert_only_merge_conflicts_only_inside_its_key_range(spark, tbl):
    """The append's conflict guard is the source's lead-key interval: a
    concurrent append that may hold a key in [lo, hi] aborts the MERGE,
    a provably disjoint one lets it rebase."""
    write_delta(_kv(spark, 20), tbl, mode="overwrite")  # v0: k in [0, 19]
    batch = spark.createDataFrame([(30, 1), (35, 1)], "k long, v long")
    overlapping = spark.createDataFrame([(33, 0)], "k long, v long")
    with pytest.raises(ConcurrentModificationError, match="predicate"):
        merge_delta(
            spark, tbl, batch, "k", when_matched="ignore",
            commit_fn=_racing_append(overlapping),
        )  # the racer holds v1
    disjoint = spark.createDataFrame([(90, 0)], "k long, v long")
    v, _ = merge_delta(
        spark, tbl, batch, "k", when_matched="ignore",
        commit_fn=_racing_append(disjoint),
    )
    assert v == 3  # the racer took v2, the MERGE rebased onto v3
    assert {r.k for r in read_delta(spark, tbl).collect()} == set(
        range(20)
    ) | {30, 33, 35, 90}


def test_insert_only_merge_advances_identity_hwm(spark, tbl):
    write_delta(
        spark.range(5).select(F.concat(F.lit("x"), F.col("id")).alias("name")),
        tbl, mode="overwrite",
        identity={"uid": {"start": 1, "step": 1, "allow_explicit": True}},
    )  # x0..x4 -> uid 1..5
    src = spark.createDataFrame([("m0", 500), ("x1", 2)], "name string, uid long")
    merge_delta(spark, tbl, src, "name", when_matched="ignore")
    write_delta(
        spark.range(2).select(F.concat(F.lit("p"), F.col("id")).alias("name")),
        tbl, mode="append",
    )
    ids = sorted(r.uid for r in read_delta(spark, tbl).collect())
    assert ids == [1, 2, 3, 4, 5, 500, 501, 502]


def _restat(tbl, v, col, lo, hi):
    """Give version ``v``'s single-row add action the ``col`` stats a
    foreign writer would (Spark's default INT96 timestamps carry no
    footer stats, so this engine writes none for them)."""
    path = os.path.join(tbl, "_delta_log", f"{v:020d}.json")
    with open(path, encoding="utf-8") as fh:
        actions = [json.loads(line) for line in fh]
    for a in actions:
        if "add" in a:
            a["add"]["stats"] = json.dumps(
                {"numRecords": 1, "minValues": {col: lo}, "maxValues": {col: hi}}
            )
    with open(path, "w", encoding="utf-8") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in actions)


def test_insert_only_merge_on_timestamp_key_reapplies_as_noop(spark, tbl):
    """Timestamp stats prune as instants, not ISO text: re-applying a
    batch whose max equals a file's min inserts nothing, whether the
    stats are in pyarrow's ``+00:00`` form or delta-spark's
    millisecond-truncated ``.000Z`` form."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    batch = spark.createDataFrame([(t0, 1)], "ts timestamp, v long")
    write_delta(batch.coalesce(1), tbl, mode="overwrite")  # v0: one file
    for stat in ("2024-01-01T00:00:00+00:00", "2024-01-01T00:00:00.000Z"):
        _restat(tbl, 0, "ts", stat, stat)
        assert merge_delta(spark, tbl, batch, "ts", when_matched="ignore") == (
            0, 0,
        )

    t1 = t0 + dt.timedelta(microseconds=500)  # stats truncate it to t0
    later = spark.createDataFrame([(t1, 2)], "ts timestamp, v long")
    write_delta(later.coalesce(1), tbl, mode="append")  # v1
    _restat(tbl, 1, "ts", "2024-01-01T00:00:00.000Z", "2024-01-01T00:00:00.000Z")
    assert merge_delta(spark, tbl, later, "ts", when_matched="ignore") == (1, 0)
    assert _rows(read_delta(spark, tbl)) == {(t0, 1), (t1, 2)}


def test_dml_rewrite_writes_one_file_on_small_tables(spark, tbl):
    """Copy-on-write output is sized by bytes, not by shuffle width: on
    a small CDF table each MERGE / UPDATE adds one data file and one
    cdc file, so a second MERGE on the same keys rewrites that one file
    instead of every file the first one scattered the keys across."""
    write_delta(
        _kv(spark, 40).repartitionByRange(4, "k"), tbl, mode="overwrite",
        configuration={"delta.enableChangeDataFeed": "true"},
    )  # v0: four files
    src = spark.createDataFrame(
        [(12, -1), (13, -1), (100, -1)], "k long, v long"
    )
    merge_delta(spark, tbl, src, "k")  # v1: updates 12, 13, inserts 100
    assert _action_kinds(tbl, 1)["add"] == 1
    assert _action_kinds(tbl, 1)["cdc"] == 1
    update_rows(spark, tbl, "k = 100", {"v": "v - 1"})  # v2
    assert _action_kinds(tbl, 2)["add"] == 1
    assert _action_kinds(tbl, 2)["cdc"] == 1
    _v, rewritten = merge_delta(spark, tbl, src, "k")  # v3
    assert rewritten == 1
    assert _action_kinds(tbl, 3)["remove"] == 1
    assert _action_kinds(tbl, 3)["add"] == 1
    assert _action_kinds(tbl, 3)["cdc"] == 1


# --------------------------------------------------------------------------
# round-6 self-review regression fixes
# --------------------------------------------------------------------------


def test_touched_file_dml_and_dv_on_special_char_partitions(spark, tbl):
    """_metadata.file_path arrives URI-encoded; path equality against
    on-disk names must decode it, or DML silently no-ops and DV rows
    reappear on Spark-escaped hive dirs (':' -> %3A)."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        delete_delta_dv,
        delete_rows,
    )

    df = spark.createDataFrame(
        [(k, "a:b" if k % 2 == 0 else "p q") for k in range(20)],
        "k long, part string",
    )
    write_delta(df, tbl, mode="overwrite", partition_by=["part"])
    v, n = delete_rows(spark, tbl, "k < 5")
    assert n >= 1  # files WERE found despite the escaped dir names
    assert _rows(read_delta(spark, tbl)) == _rows(df.filter("k >= 5"))

    tbl2 = tbl + "_dv"
    write_delta(df, tbl2, mode="overwrite", partition_by=["part"])
    _v, ndv = delete_delta_dv(spark, tbl2, "k", 0, 4)
    assert ndv >= 1
    assert _rows(read_delta(spark, tbl2)) == _rows(df.filter("k >= 5"))


def test_merge_updates_every_duplicate_target_row(spark, tbl):
    """A duplicate-key TARGET keeps its multiplicity under MERGE: every
    matched row takes the source values (an anti-join + union would
    silently collapse the duplicates)."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        merge_delta,
    )

    df = spark.createDataFrame(
        [(1, 10), (2, 20), (2, 21), (3, 30)], "k long, v long"
    )
    write_delta(df, tbl, mode="overwrite")
    source = spark.createDataFrame([(2, 99), (4, 40)], "k long, v long")
    merge_delta(spark, tbl, source, "k")
    got = sorted(tuple(r) for r in read_delta(spark, tbl).collect())
    assert got == [(1, 10), (2, 99), (2, 99), (3, 30), (4, 40)]


def test_concurrent_same_app_txn_aborts(spark, tbl):
    """Two instances of the same idempotent writer racing: the loser
    must abort (re-consult last_txn_version), never rebase and commit
    the same batch twice."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        ConcurrentModificationError,
        _CommitGuard,
        _commit,
        _try_write_commit,
    )

    write_delta(_kv(spark, 5), tbl, mode="overwrite")  # v0
    _try_write_commit(
        tbl, 1, [{"txn": {"appId": "job-1", "version": 7}}]
    )  # winner: same app committed batch 7
    with pytest.raises(ConcurrentModificationError, match="job-1"):
        _commit(
            tbl,
            [{"commitInfo": {}}],
            _CommitGuard(blind_append=True, txn_app="job-1"),
            base_version=0,
        )
    # a DIFFERENT app rebases fine
    v = _commit(
        tbl,
        [{"commitInfo": {}}],
        _CommitGuard(blind_append=True, txn_app="job-2"),
        base_version=0,
    )
    assert v == 2


def test_overwrite_schema_enforces_constraints(spark, tbl):
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        add_check_constraint,
    )

    write_delta(_kv(spark, 10), tbl, mode="overwrite")
    add_check_constraint(spark, tbl, "v_nonneg", "v >= 0")
    bad = spark.createDataFrame([(1, -5)], "k long, v long")
    with pytest.raises(DeltaProtocolError, match="v_nonneg"):
        write_delta(bad, tbl, mode="overwrite", overwrite_schema=True)
    # schema replacement that DROPS the constrained column fails loudly
    # (drop the constraint first) rather than committing a corrupt table
    dropped = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(Exception):
        write_delta(dropped, tbl, mode="overwrite", overwrite_schema=True)


def test_removes_carry_partition_values(spark, tbl):
    df = spark.range(12).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p")
    )
    write_delta(df, tbl, mode="overwrite", partition_by=["p"])
    write_delta(df.filter("k < 4"), tbl, mode="overwrite")  # removes v0 files
    with open(os.path.join(tbl, "_delta_log", f"{1:020d}.json")) as fh:
        removes = [
            json.loads(line)["remove"]
            for line in fh
            if line.strip() and "remove" in json.loads(line)
        ]
    assert removes
    assert all(r.get("partitionValues", {}).get("p") is not None for r in removes)


def test_small_dvs_are_written_inline(spark, tbl):
    """Tiny deletion bitmaps travel inline in the log (storageType "i",
    z85-encoded) — no side file; large ones share one .bin file."""
    import glob

    df = _kv(spark, 40).repartitionByRange(2, "k")
    write_delta(df, tbl, mode="overwrite")
    delete_delta_dv(spark, tbl, "k", 3, 5)  # 3 rows: inline
    snap = snapshot(spark, tbl)
    descs = [
        a["deletionVector"]
        for a in snap.files.values()
        if a.get("deletionVector")
    ]
    assert descs and all(d["storageType"] == "i" for d in descs)
    assert glob.glob(os.path.join(tbl, "deletion_vector_*.bin")) == []
    assert _rows(read_delta(spark, tbl).select("k")) == {
        (k,) for k in range(40) if not 3 <= k <= 5
    }
    # a big delete on the same table goes to a side file and MERGES the
    # inline bitmap
    big = spark.range(4000).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    tbl2 = tbl + "_big"
    write_delta(big.repartitionByRange(2, "k"), tbl2, mode="overwrite")
    delete_delta_dv(spark, tbl2, "k", 0, 2999)
    snap2 = snapshot(spark, tbl2)
    descs2 = [
        a["deletionVector"]
        for a in snap2.files.values()
        if a.get("deletionVector")
    ]
    assert any(d["storageType"] == "u" for d in descs2)
    assert read_delta(spark, tbl2).count() == 1000


def test_merge_on_read_update_marks_and_appends(spark, tbl):
    """update_delta_dv: old versions DV-marked in place (data files keep
    identity), new versions appended — O(matched rows) write cost; CDF
    captures pre/postimages."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        update_delta_dv,
    )

    df = _kv(spark).repartitionByRange(4, "k")
    write_delta(
        df, tbl, mode="overwrite",
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    files_v0 = set(snapshot(spark, tbl).files)

    v, n_dv = update_delta_dv(spark, tbl, "k", 5, 14, {"v": "v + 1"})
    assert v == 1 and n_dv >= 1
    snap = snapshot(spark, tbl)
    assert files_v0 <= set(snap.files)  # originals keep identity
    assert len(snap.files) > len(files_v0)  # plus appended new versions

    want = df.withColumn(
        "v",
        F.when(F.col("k").between(5, 14), F.col("v") + 1).otherwise(F.col("v")),
    )
    assert _rows(read_delta(spark, tbl)) == _rows(want)
    # time travel intact
    assert _rows(read_delta(spark, tbl, version=0)) == _rows(df)

    cdf = read_cdf(spark, tbl, from_version=1)
    counts = dict(
        (r["_change_type"], r["n"])
        for r in cdf.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    )
    assert counts == {"update_preimage": 10, "update_postimage": 10}

    # a second MoR update over an overlapping range composes: rows
    # updated once are in the NEW files, not re-marked in the old ones
    update_delta_dv(spark, tbl, "k", 10, 19, {"v": "v + 100"})
    want2 = want.withColumn(
        "v",
        F.when(F.col("k").between(10, 19), F.col("v") + 100).otherwise(
            F.col("v")
        ),
    )
    assert _rows(read_delta(spark, tbl)) == _rows(want2)


# --------------------------------------------------------------------------
# checkpoint remove tombstones (round 7, ADVICE r6 #3)
# --------------------------------------------------------------------------


def test_checkpoint_carries_remove_tombstones(spark, tbl):
    """Per the protocol a checkpoint carries unexpired remove actions:
    a foreign engine reading ONLY the checkpoint keeps tombstone/VACUUM
    information. A re-add clears the tombstone; the live-file set is
    unchanged by the extra rows."""
    import pyarrow.parquet as pq

    df = _kv(spark, 12)
    write_delta(df.filter("k < 6"), tbl, mode="overwrite")
    write_delta(df.filter("k >= 6"), tbl, mode="overwrite")  # removes v0 files
    removed = set(snapshot(spark, tbl, version=0).files)
    assert removed and not (removed & set(snapshot(spark, tbl).files))

    v = write_checkpoint(spark, tbl)
    ckpt = os.path.join(tbl, "_delta_log", f"{v:020d}.checkpoint.parquet")
    t = pq.read_table(ckpt)
    assert "remove" in t.column_names
    rms = [r for r in t.column("remove").to_pylist() if r and r.get("path")]
    assert {r["path"] for r in rms} == removed
    assert all(r["deletionTimestamp"] > 0 for r in rms)
    # _last_checkpoint size counts the tombstone rows
    meta = json.loads(
        open(os.path.join(tbl, "_delta_log", "_last_checkpoint")).read()
    )
    assert meta["size"] == 2 + len(snapshot(spark, tbl).files) + len(rms)

    # replay FROM the checkpoint alone: live files exact, tombstones kept
    assert truncate_log(tbl) != []
    snap = snapshot(spark, tbl)
    assert set(snap.tombstones) == removed
    assert _rows(read_delta(spark, tbl)) == _rows(df.filter("k >= 6"))
    # and the NEXT checkpoint still carries them (until expiry)
    write_delta(df.filter("k < 3"), tbl, mode="append")
    v2 = write_checkpoint(spark, tbl)
    t2 = pq.read_table(
        os.path.join(tbl, "_delta_log", f"{v2:020d}.checkpoint.parquet")
    )
    rms2 = [r for r in t2.column("remove").to_pylist() if r and r.get("path")]
    assert {r["path"] for r in rms2} == removed


# --------------------------------------------------------------------------
# composite-key MERGE + WHEN NOT MATCHED BY SOURCE (round 7)
# --------------------------------------------------------------------------


def test_merge_delta_composite_key(spark, tbl):
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        merge_delta,
    )

    tgt = spark.range(12).select(
        (F.col("id") % 4).alias("k1"),
        (F.col("id") % 3).alias("k2"),
        (F.col("id") * 10).alias("v"),
    )
    write_delta(tgt, tbl, mode="overwrite")
    src = spark.createDataFrame(
        [(0, 0, -1), (1, 1, -2), (9, 9, -3)], "k1 long, k2 long, v long"
    )
    v, rewritten = merge_delta(spark, tbl, src, ["k1", "k2"])
    out = {(r["k1"], r["k2"]): r["v"] for r in read_delta(spark, tbl).collect()}
    assert out[(0, 0)] == -1 and out[(1, 1)] == -2  # matched updated
    assert out[(9, 9)] == -3  # unmatched inserted
    assert out[(2, 2)] == 20  # untouched row keeps its value
    assert len(out) == 13

    # duplicates are judged on the COMPOSITE key: same k1, distinct k2
    # is NOT a duplicate; a true composite dup is rejected
    ok = spark.createDataFrame(
        [(3, 0, 1), (3, 1, 2)], "k1 long, k2 long, v long"
    )
    merge_delta(spark, tbl, ok, ["k1", "k2"])
    dup = spark.createDataFrame(
        [(3, 0, 1), (3, 0, 2)], "k1 long, k2 long, v long"
    )
    with pytest.raises(DeltaProtocolError, match="duplicate"):
        merge_delta(spark, tbl, dup, ["k1", "k2"])
    with pytest.raises(DeltaProtocolError, match="not in table schema"):
        merge_delta(spark, tbl, ok, ["k1", "zz"])


def test_merge_delta_not_matched_by_source_delete(spark, tbl):
    """Delta's third clause: WHEN NOT MATCHED BY SOURCE THEN DELETE —
    the full-sync MERGE. Matched rows update, unmatched source rows
    insert, target rows missing from the source are deleted; with CDF
    on, the commit carries all four change types."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        merge_delta,
    )

    df = _kv(spark, 10).select("k", "v")
    write_delta(
        df, tbl, configuration={"delta.enableChangeDataFeed": "true"}
    )
    src = spark.createDataFrame(
        [(0, -1), (1, -2), (20, -3)], "k long, v long"
    )
    v, rewritten = merge_delta(
        spark, tbl, src, "k", when_not_matched_by_source="delete"
    )
    out = {r["k"]: r["v"] for r in read_delta(spark, tbl).collect()}
    assert out == {0: -1, 1: -2, 20: -3}

    cdf = read_cdf(spark, tbl, from_version=v)
    by_type = {
        r["_change_type"]: r["n"]
        for r in cdf.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type == {
        "update_preimage": 2,
        "update_postimage": 2,
        "insert": 1,
        "delete": 8,
    }
    dels = {r["k"] for r in cdf.filter("_change_type = 'delete'").collect()}
    assert dels == {k for k in range(2, 10)}

    # insert-only + by-source delete: matched rows KEEP their values
    tbl2 = tbl + "_io"
    write_delta(df, tbl2)
    merge_delta(
        spark, tbl2, src, "k",
        when_matched="ignore", when_not_matched_by_source="delete",
    )
    out2 = {r["k"]: r["v"] for r in read_delta(spark, tbl2).collect()}
    assert out2 == {0: 0, 1: 10, 20: -3}

    with pytest.raises(ValueError, match="when_not_matched_by_source"):
        merge_delta(spark, tbl2, src, "k", when_not_matched_by_source="wat")
