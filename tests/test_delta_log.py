"""Delta transaction-log reader/writer round trips (S6 read parity).

delta-spark is uninstallable here (SCALE.md), so these tests exercise
the public-protocol implementation in sources/delta_log.py end-to-end:
authored commits -> snapshot reconstruction -> distributed parquet scan,
including time travel, overwrite/append semantics, partitioned tables
with hive-style pruning, checkpoint fold-in after log truncation, and
reader-feature gates.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
    DeltaProtocolError,
    read_delta,
    snapshot,
    write_checkpoint,
    write_delta,
)


def _nation(spark):
    return spark.read.parquet("/root/testdata/sf0.001/nation.parquet")


@pytest.fixture()
def tbl(tmp_path):
    return str(tmp_path / "t")


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_write_read_roundtrip_and_time_travel(spark, tbl):
    nation = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    low = nation.filter("n_nationkey < 10")
    high = nation.filter("n_nationkey >= 10")

    assert write_delta(low, tbl, mode="overwrite") == 0
    assert write_delta(high, tbl, mode="append") == 1

    assert _rows(read_delta(spark, tbl)) == _rows(nation)
    assert _rows(read_delta(spark, tbl, version=0)) == _rows(low)

    # overwrite drops every previous file from the snapshot
    tiny = nation.filter("n_nationkey = 3")
    assert write_delta(tiny, tbl, mode="overwrite") == 2
    assert _rows(read_delta(spark, tbl)) == _rows(tiny)
    assert _rows(read_delta(spark, tbl, version=1)) == _rows(nation)

    snap = snapshot(spark, tbl)
    assert snap.version == 2
    assert [f.name for f in snap.schema.fields] == [
        "n_nationkey",
        "n_name",
        "n_regionkey",
    ]


def test_partitioned_table_prunes_hive_dirs(spark, tbl):
    nation = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    write_delta(nation, tbl, mode="overwrite", partition_by=["n_regionkey"])

    snap = snapshot(spark, tbl)
    assert snap.partition_columns == ["n_regionkey"]
    # add actions carry partitionValues parsed from the hive dirs
    assert all(
        set(a["partitionValues"]) == {"n_regionkey"} for a in snap.files.values()
    )

    out = read_delta(spark, tbl)
    assert _rows(out.select("n_nationkey", "n_regionkey")) == _rows(
        nation.select("n_nationkey", "n_regionkey")
    )
    # partition filter reaches the scan as a PartitionFilter (pruning)
    plan = (
        out.filter(F.col("n_regionkey") == 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan and "n_regionkey" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]


def test_checkpoint_folds_state_and_survives_log_truncation(spark, tbl):
    nation = _nation(spark).select("n_nationkey", "n_name")
    write_delta(nation.filter("n_nationkey < 5"), tbl, mode="overwrite")
    write_delta(nation.filter("n_nationkey >= 5 and n_nationkey < 15"), tbl, mode="append")
    write_delta(nation.filter("n_nationkey >= 15"), tbl, mode="append")

    assert write_checkpoint(spark, tbl) == 2
    # drop the pre-checkpoint JSON commits: reader must rebuild from the
    # checkpoint parquet alone (the protocol's log-retention story)
    for v in (0, 1, 2):
        os.remove(os.path.join(tbl, "_delta_log", f"{v:020d}.json"))

    assert _rows(read_delta(spark, tbl)) == _rows(nation)

    # and new commits on top of the checkpoint still apply
    write_delta(nation.filter("n_nationkey = 0"), tbl, mode="overwrite")
    assert _rows(read_delta(spark, tbl)) == _rows(nation.filter("n_nationkey = 0"))


def test_reader_feature_gate(spark, tbl):
    """Unsupported reader-v3 features (e.g. collations-preview) stay
    loudly gated; supported ones (deletionVectors, columnMapping —
    round 6; v2Checkpoint — round 9; variantType — round 11) pass the
    protocol check."""
    write_delta(_nation(spark).select("n_nationkey"), tbl)
    with open(os.path.join(tbl, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "readerFeatures": [
                            "deletionVectors",
                            "collations-preview",
                        ],
                    }
                }
            )
            + "\n"
        )
    with pytest.raises(DeltaProtocolError, match="collations"):
        read_delta(spark, tbl)

    # a supported v3 feature set is accepted
    with open(os.path.join(tbl, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "readerFeatures": ["deletionVectors"],
                    }
                }
            )
            + "\n"
        )
    assert read_delta(spark, tbl).count() == _nation(spark).count()


def test_missing_and_unknown_versions_raise(spark, tbl):
    with pytest.raises(FileNotFoundError):
        snapshot(spark, tbl + "_nope")
    write_delta(_nation(spark).select("n_nationkey"), tbl)
    with pytest.raises(ValueError, match="version 7"):
        read_delta(spark, tbl, version=7)


def test_vacuum_reclaims_only_unreferenced_files(spark, tbl):
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import vacuum_delta

    nation = _nation(spark).select("n_nationkey", "n_name")
    write_delta(nation, tbl, mode="overwrite")
    write_delta(nation.filter("n_nationkey < 5"), tbl, mode="overwrite")

    removed = vacuum_delta(spark, tbl)
    assert removed  # v0's files reclaimed
    # latest version still fully readable
    assert _rows(read_delta(spark, tbl)) == _rows(nation.filter("n_nationkey < 5"))
    # time travel past the reclaimed files now fails (like VACUUM past
    # the retention horizon) with a read error, not wrong rows
    with pytest.raises(Exception):
        read_delta(spark, tbl, version=0).collect()
    # idempotent
    assert vacuum_delta(spark, tbl) == []


def test_txn_idempotent_append_under_replay(spark, tbl):
    """The protocol txn action makes appends exactly-once under
    at-least-once delivery: a restarted writer that replays batches it
    already committed must skip them (last_txn_version gate), and the
    txn watermark survives checkpointing + log truncation."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        last_txn_version,
        vacuum_delta,
    )

    nation = _nation(spark).select("n_nationkey", "n_name")
    batches = [nation.filter(f"n_nationkey % 3 = {i}") for i in range(3)]

    def deliver(batch_ids):
        for bid in batch_ids:
            if bid <= last_txn_version(spark, tbl, "job-42"):
                continue
            write_delta(batches[bid], tbl, mode="append", txn=("job-42", bid))

    deliver([0, 1])
    deliver([0, 1, 2])  # restart replays 0 and 1
    assert last_txn_version(spark, tbl, "job-42") == 2
    assert read_delta(spark, tbl).count() == nation.count()  # no double-append
    assert _rows(read_delta(spark, tbl)) == _rows(nation)

    # watermark survives checkpoint + truncation + vacuum
    v = write_checkpoint(spark, tbl)
    for k in range(v + 1):
        os.remove(os.path.join(tbl, "_delta_log", f"{k:020d}.json"))
    assert last_txn_version(spark, tbl, "job-42") == 2
    assert last_txn_version(spark, tbl, "other-app") == -1
    vacuum_delta(spark, tbl)
    assert _rows(read_delta(spark, tbl)) == _rows(nation)


def test_streaming_foreach_batch_delta_sink(spark, tbl, tmp_path):
    """End-to-end: a file stream appended into the protocol Delta table
    via foreach_batch_delta_append; a full re-run with a FRESH streaming
    checkpoint (worst-case redelivery of every batch) must not change
    the table contents."""
    import json as js

    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        last_txn_version,
    )
    from mergermetrics_lakehouse_pipeline_spark.streaming.jobs import (
        foreach_batch_delta_append,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(3):
        (landing / f"f{i}.json").write_text(
            "\n".join(js.dumps({"k": i * 10 + j, "s": f"r{i}"}) for j in range(5))
        )
    schema = "k long, s string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    foreach_batch_delta_append(
        stream,
        table_path=tbl,
        app_id="stream-sink",
        checkpoint_dir=str(tmp_path / "ckpt1"),
    )
    first = _rows(read_delta(spark, tbl))
    assert len(first) == 15
    hwm = last_txn_version(spark, tbl, "stream-sink")

    # fresh checkpoint = Spark replays every file as new batches 0..N;
    # the txn gate must swallow all of them
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    foreach_batch_delta_append(
        stream2,
        table_path=tbl,
        app_id="stream-sink",
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    assert _rows(read_delta(spark, tbl)) == first
    assert last_txn_version(spark, tbl, "stream-sink") == hwm


def test_schema_evolution_append_adds_column(spark, tbl):
    """mergeSchema-style evolution over the real format (S5): an append
    with a new column re-commits metaData with the widened schema; old
    files read the column as NULL; type changes and column drops are
    rejected."""
    nation = _nation(spark).select("n_nationkey", "n_name")
    write_delta(nation.filter("n_nationkey < 10"), tbl, mode="overwrite")
    widened = nation.filter("n_nationkey >= 10").withColumn(
        "ingest_tag", F.lit("batch2")
    )
    write_delta(widened, tbl, mode="append")

    snap = snapshot(spark, tbl)
    assert [f.name for f in snap.schema.fields] == [
        "n_nationkey",
        "n_name",
        "ingest_tag",
    ]
    out = read_delta(spark, tbl)
    assert out.count() == nation.count()
    tags = {r.ingest_tag for r in out.filter("n_nationkey < 10").collect()}
    assert tags == {None}  # pre-evolution files surface NULL
    assert {
        r.ingest_tag for r in out.filter("n_nationkey >= 10").collect()
    } == {"batch2"}

    with pytest.raises(DeltaProtocolError, match="type change"):
        write_delta(
            nation.withColumn("n_nationkey", F.col("n_nationkey").cast("string")),
            tbl,
            mode="append",
        )
    with pytest.raises(DeltaProtocolError, match="dropping needs"):
        write_delta(nation.select("n_nationkey"), tbl, mode="append")


def test_stats_skipping_prunes_files(spark, tbl):
    """Data skipping: add actions carry parquet-footer min/max stats;
    a range probe plans only the files whose interval intersects — and
    the pruned scan returns exactly the rows the full scan + filter
    does (superset guarantee + exact residual)."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        read_delta_pruned,
        snapshot,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    # range-partitioned files -> disjoint l_orderkey intervals per file
    write_delta(li.repartitionByRange(8, "l_orderkey"), tbl, mode="overwrite")

    snap = snapshot(spark, tbl)
    assert all("stats" in a for a in snap.files.values())

    lo, hi = 100, 500
    pruned, skipped = read_delta_pruned(spark, tbl, "l_orderkey", lo, hi)
    assert skipped > 0  # most of the 8 range files cannot intersect
    got = _rows(pruned.filter(F.col("l_orderkey").between(lo, hi)))
    want = _rows(
        read_delta(spark, tbl).filter(F.col("l_orderkey").between(lo, hi))
    )
    assert got == want


def test_dynamic_partition_overwrite_touches_only_matching_partitions(spark, tbl):
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        overwrite_partitions_delta,
        snapshot,
    )

    nation = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    write_delta(nation, tbl, mode="overwrite", partition_by=["n_regionkey"])
    before = snapshot(spark, tbl)
    untouched_before = {
        rel
        for rel, a in before.files.items()
        if a["partitionValues"]["n_regionkey"] not in ("1", "2")
    }

    refresh = nation.filter("n_regionkey IN (1, 2)").withColumn(
        "n_name", F.concat(F.lit("R_"), F.col("n_name"))
    )
    overwrite_partitions_delta(refresh, tbl, partition_by=["n_regionkey"])

    after = snapshot(spark, tbl)
    untouched_after = {
        rel
        for rel, a in after.files.items()
        if a["partitionValues"]["n_regionkey"] not in ("1", "2")
    }
    # file IDENTITY preserved outside the refreshed partitions
    assert untouched_after == untouched_before

    out = read_delta(spark, tbl)
    assert out.count() == nation.count()
    assert out.filter(
        F.col("n_regionkey").isin(1, 2) & ~F.col("n_name").startswith("R_")
    ).count() == 0
    assert out.filter(
        ~F.col("n_regionkey").isin(1, 2) & F.col("n_name").startswith("R_")
    ).count() == 0


def test_optimize_compacts_and_zorder_skips_both_dims(spark, tbl):
    """OPTIMIZE: fewer files, identical content, dataChange=false,
    pre-optimize version still readable; ZORDER BY gives stats skipping
    on BOTH clustered columns."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        optimize_delta,
        read_delta_pruned,
        snapshot,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    write_delta(li.repartition(24), tbl, mode="overwrite")
    v0_files = len(snapshot(spark, tbl).files)
    assert v0_files >= 16

    v = optimize_delta(spark, tbl, target_files=4, zorder_by=("l_orderkey", "l_partkey"))
    snap = snapshot(spark, tbl)
    assert len(snap.files) <= 6 < v0_files
    assert _rows(read_delta(spark, tbl)) == _rows(li)
    # time travel to pre-optimize still works (old files not vacuumed)
    assert read_delta(spark, tbl, version=v - 1).count() == li.count()

    # z-clustering: range probes on EITHER dimension skip files
    ok = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    pk = li.agg(F.min("l_partkey"), F.max("l_partkey")).first()
    _, skip_o = read_delta_pruned(
        spark, tbl, "l_orderkey", ok[0], ok[0] + (ok[1] - ok[0]) // 10
    )
    _, skip_p = read_delta_pruned(
        spark, tbl, "l_partkey", pk[0], pk[0] + (pk[1] - pk[0]) // 10
    )
    assert skip_o > 0 and skip_p > 0


def test_copy_on_write_delete_rewrites_only_intersecting_files(spark, tbl):
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        delete_delta,
        snapshot,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    write_delta(li.repartitionByRange(8, "l_orderkey"), tbl, mode="overwrite")
    files_before = set(snapshot(spark, tbl).files)

    keys = sorted(r.l_orderkey for r in li.select("l_orderkey").distinct().collect())
    lo, hi = keys[len(keys) // 3], keys[len(keys) // 2]
    v, rewritten = delete_delta(spark, tbl, "l_orderkey", lo, hi)
    assert 0 < rewritten < 8  # surgical: only intersecting files

    snap = snapshot(spark, tbl)
    # untouched files keep identity
    assert len(files_before & set(snap.files)) == 8 - rewritten
    got = _rows(read_delta(spark, tbl))
    want = _rows(li.filter(~F.col("l_orderkey").between(lo, hi)))
    assert got == want
    # pre-delete version intact
    assert read_delta(spark, tbl, version=v - 1).count() == li.count()


def test_stream_commit_batches_replays_appends_and_skips_optimize(spark, tbl):
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        optimize_delta,
        stream_commit_batches,
    )

    nation = _nation(spark).select("n_nationkey", "n_name")
    write_delta(nation.filter("n_nationkey < 5"), tbl, mode="overwrite")  # v0
    write_delta(nation.filter("n_nationkey >= 5 and n_nationkey < 15"), tbl, mode="append")  # v1
    optimize_delta(spark, tbl, target_files=2)  # v2: dataChange=false
    write_delta(nation.filter("n_nationkey >= 15"), tbl, mode="append")  # v3

    batches = list(stream_commit_batches(spark, tbl))
    assert [v for v, _ in batches] == [0, 1, 3]  # optimize yields nothing
    assert _rows(batches[0][1]) == _rows(nation.filter("n_nationkey < 5"))
    union = None
    for _, b in batches:
        union = b if union is None else union.unionByName(b)
    assert _rows(union) == _rows(nation)

    # from_version resumes mid-log
    assert [v for v, _ in stream_commit_batches(spark, tbl, from_version=3)] == [3]

    # an overwrite breaks the append-only contract -> loud error
    write_delta(nation.filter("n_nationkey = 1"), tbl, mode="overwrite")  # v4
    with pytest.raises(DeltaProtocolError, match="append-only"):
        list(stream_commit_batches(spark, tbl, from_version=3))


def test_multipart_checkpoint_reads_and_incomplete_raises(spark, tbl):
    """Other engines write <v>.checkpoint.<i>.<n>.parquet sets for large
    tables; the reader must fold ALL parts and refuse incomplete sets."""
    import shutil

    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        write_checkpoint,
    )

    nation = _nation(spark).select("n_nationkey", "n_name")
    write_delta(nation.filter("n_nationkey < 12"), tbl, mode="overwrite")
    write_delta(nation.filter("n_nationkey >= 12"), tbl, mode="append")
    v = write_checkpoint(spark, tbl)
    log = os.path.join(tbl, "_delta_log")
    single = os.path.join(log, f"{v:020d}.checkpoint.parquet")

    # split the single-part checkpoint into a 2-part set by re-writing
    # its rows as two parquet files (same action schema)
    rows = spark.read.parquet(single)
    a, b = rows.limit(2), rows.subtract(rows.limit(2))
    for i, part in enumerate((a, b), start=1):
        tmp = os.path.join(log, f"__part{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        pf = next(
            n for n in os.listdir(tmp) if n.endswith(".parquet") and not n.startswith(".")
        )
        os.replace(
            os.path.join(tmp, pf),
            os.path.join(log, f"{v:020d}.checkpoint.{i:010d}.{2:010d}.parquet"),
        )
        shutil.rmtree(tmp)
    os.remove(single)
    for k in range(v + 1):
        os.remove(os.path.join(log, f"{k:020d}.json"))

    assert _rows(read_delta(spark, tbl)) == _rows(nation)

    # dropping a part must never half-read: the incomplete set is
    # ignored (round 6: skip, so an in-flight/crashed checkpoint write
    # cannot wedge the table), and since the pre-checkpoint commits
    # were truncated the replay fails LOUDLY on the missing commit
    os.remove(
        os.path.join(log, f"{v:020d}.checkpoint.{1:010d}.{2:010d}.parquet")
    )
    with pytest.raises(FileNotFoundError, match="missing commit|no Delta log"):
        read_delta(spark, tbl)


def test_partition_value_pruning_and_zorder_partition_guard(spark, tbl):
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        optimize_delta,
        prune_files_by_stats,
        snapshot,
    )

    nation = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    write_delta(nation, tbl, mode="overwrite", partition_by=["n_regionkey"])

    snap = snapshot(spark, tbl)
    keep, skipped = prune_files_by_stats(snap, "n_regionkey", 2, 2)
    assert skipped > 0  # other regions' files eliminated by partition value
    kept_regions = {
        snap.files[rel]["partitionValues"]["n_regionkey"] for rel in keep
    }
    assert kept_regions == {"2"}

    with pytest.raises(DeltaProtocolError, match="ZORDER"):
        optimize_delta(spark, tbl, target_files=2, zorder_by=("n_nationkey", "n_regionkey"))


def test_decimal_columns_write_without_stats_and_stay_readable(spark, tbl):
    """DECIMAL footer stats are not JSON-safe; such columns must carry
    no stats (conservatively kept by pruning) while the write succeeds
    and round-trips exactly."""
    import json as js

    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        read_delta_pruned,
        snapshot,
    )

    df = (
        spark.range(20)
        .select(
            F.col("id").alias("k"),
            (F.col("id").cast("decimal(18,2)") * 7 / 3).alias("amt"),
        )
    )
    write_delta(df.repartitionByRange(4, "k"), tbl, mode="overwrite")
    snap = snapshot(spark, tbl)
    for a in snap.files.values():
        st = js.loads(a["stats"])
        assert "amt" not in st["minValues"]  # decimal excluded
        assert "k" in st["minValues"]
    assert _rows(read_delta(spark, tbl)) == _rows(df)
    # pruning on the stat-less decimal column keeps everything (safe)
    _, skipped = read_delta_pruned(spark, tbl, "amt", 0, 1)
    assert skipped == 0
    # pruning on the stat-carrying long column still works
    _, skipped_k = read_delta_pruned(spark, tbl, "k", 0, 3)
    assert skipped_k > 0


def test_copy_on_write_update_rewrites_only_intersecting_files(spark, tbl):
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        snapshot,
        update_delta,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    write_delta(li.repartitionByRange(8, "l_orderkey"), tbl, mode="overwrite")
    files_before = set(snapshot(spark, tbl).files)

    keys = sorted(r.l_orderkey for r in li.select("l_orderkey").distinct().collect())
    lo, hi = keys[len(keys) // 8], keys[len(keys) // 4]
    v, rewritten = update_delta(
        spark, tbl, "l_orderkey", lo, hi, {"l_quantity": "l_quantity * 2"}
    )
    assert 0 < rewritten < 8
    snap = snapshot(spark, tbl)
    assert len(files_before & set(snap.files)) == 8 - rewritten

    got = read_delta(spark, tbl)
    want = li.withColumn(
        "l_quantity",
        F.when(
            F.col("l_orderkey").between(lo, hi), F.col("l_quantity") * 2
        ).otherwise(F.col("l_quantity")),
    )
    assert _rows(got) == _rows(want)
    assert read_delta(spark, tbl, version=v - 1).count() == li.count()


@pytest.mark.parametrize(
    "extra",
    [
        # Spark writes TIMESTAMP as INT96, whose footer has no min/max
        "CAST('2024-01-01 00:00:00' AS TIMESTAMP)",
        "CAST(NULL AS BIGINT)",
    ],
    ids=["int96_timestamp", "all_null_bigint"],
)
def test_stats_omit_only_columns_without_footer_min_max(spark, tbl, extra):
    """A column whose footer has no min/max is left out of the file's
    stats; the other columns keep theirs, so a probe on ``k`` still
    skips the file."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        prune_files_by_stats,
    )

    df = spark.range(100).selectExpr("id AS k", f"{extra} AS x")
    write_delta(df.coalesce(1), tbl, mode="overwrite")
    snap = snapshot(spark, tbl)
    (add,) = snap.files.values()
    stats = json.loads(add["stats"])
    assert stats == {
        "numRecords": 100, "minValues": {"k": 0}, "maxValues": {"k": 99},
    }
    assert prune_files_by_stats(snap, "k", 500, 600) == ([], 1)
    assert prune_files_by_stats(snap, "x", None, None)[1] == 0
