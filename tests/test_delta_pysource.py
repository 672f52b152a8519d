"""The Delta commit log as a REAL Spark source (Python DataSource API,
sources/delta_pysource.py): batch reads of the current snapshot,
checkpointed Structured Streaming over append histories, CDF-mode
streaming over DML'd tables, executor-side Arrow decoding with
partition-value injection and deletion-vector subtraction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import StreamingQueryException

from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
    delete_delta,
    delete_delta_dv,
    optimize_delta,
    read_delta,
    update_delta,
    write_delta,
)
from mergermetrics_lakehouse_pipeline_spark.sources.delta_pysource import (
    DeltaLogDataSource,
)


@pytest.fixture()
def tbl(tmp_path):
    return str(tmp_path / "t")


@pytest.fixture(autouse=True)
def _register(spark):
    spark.dataSource.register(DeltaLogDataSource)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _kv(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def test_batch_read_matches_read_delta(spark, tbl):
    df = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p")
    )
    write_delta(df, tbl, mode="overwrite", partition_by=["p"])
    write_delta(
        df.filter("k < 5").withColumn("k", F.col("k") + 100),
        tbl,
        mode="append",
    )
    out = spark.read.format("delta_pylog").option("path", tbl).load()
    assert _rows(out) == _rows(read_delta(spark, tbl))
    # partition values came from hive dirs, injected executor-side
    assert out.schema["p"].dataType.typeName() == "long"


def test_batch_read_subtracts_deletion_vectors(spark, tbl):
    write_delta(_kv(spark).repartitionByRange(4, "k"), tbl, mode="overwrite")
    delete_delta_dv(spark, tbl, "k", 5, 14)
    out = spark.read.format("delta_pylog").option("path", tbl).load()
    assert _rows(out.select("k")) == {
        (k,) for k in range(40) if not 5 <= k <= 14
    }


def test_stream_replays_appends_and_checkpoint_resumes(spark, tbl, tmp_path):
    nation = _kv(spark, 30)
    write_delta(nation.filter("k < 10"), tbl, mode="overwrite")  # v0
    write_delta(nation.filter("k >= 10 and k < 20"), tbl, mode="append")  # v1
    optimize_delta(spark, tbl, target_files=2)  # v2: must yield nothing

    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    stream = spark.readStream.format("delta_pylog").option("path", tbl).load()
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _rows(spark.read.parquet(sink))
    assert got == _rows(nation.filter("k < 20"))

    # new commit, SAME checkpoint: only the delta is appended — no
    # re-emit of the already-committed offsets (exactly-once resume)
    write_delta(nation.filter("k >= 20"), tbl, mode="append")  # v3
    q2 = (
        spark.readStream.format("delta_pylog").option("path", tbl).load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert _rows(spark.read.parquet(sink)) == _rows(nation)


def test_stream_append_mode_rejects_dml(spark, tbl, tmp_path):
    write_delta(_kv(spark, 20), tbl, mode="overwrite")
    delete_delta(spark, tbl, "k", 0, 5)
    q = (
        spark.readStream.format("delta_pylog").option("path", tbl).load()
        .writeStream.format("memory")
        .queryName("dpys_dml")
        .option("checkpointLocation", str(tmp_path / "c"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="mode=cdf"):
        q.awaitTermination(120)


def test_cdf_stream_folds_dml_history(spark, tbl, tmp_path):
    df = _kv(spark).repartitionByRange(4, "k")
    write_delta(
        df.filter("k < 30"), tbl, mode="overwrite",
        configuration={"delta.enableChangeDataFeed": "true"},
    )  # v0
    write_delta(df.filter("k >= 30"), tbl, mode="append")  # v1
    delete_delta(spark, tbl, "k", 5, 9)  # v2
    update_delta(spark, tbl, "k", 20, 24, {"v": "v * 2"})  # v3

    stream = (
        spark.readStream.format("delta_pylog")
        .option("path", tbl)
        .option("mode", "cdf")
        .load()
    )
    assert stream.columns == ["k", "v", "_change_type", "_commit_version"]
    q = (
        stream.writeStream.format("memory")
        .queryName("dpys_cdf")
        .option("checkpointLocation", str(tmp_path / "c"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    changes = spark.table("dpys_cdf")
    counts = dict(
        (r["_change_type"], r["n"])
        for r in changes.groupBy("_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert counts == {
        "insert": 40,
        "delete": 5,
        "update_preimage": 5,
        "update_postimage": 5,
    }
    # fold the streamed changes back into table state
    state: set[tuple] = set()
    for r in changes.collect():
        if r["_change_type"] in ("insert", "update_postimage"):
            state.add((r["k"], r["v"]))
        else:
            state.discard((r["k"], r["v"]))
    assert state == _rows(read_delta(spark, tbl))


def test_stream_admission_control_caps_commits_per_batch(spark, tbl):
    """maxcommitsperbatch bounds each micro-batch's offset range — the
    reader-level unit check drives the same latestOffset/partitions
    protocol the engine does."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_pysource import (
        DeltaLogStreamReader,
        _table_schema,
    )

    df = _kv(spark, 40)
    for i in range(4):
        write_delta(
            df.filter(f"k % 4 = {i}"), tbl,
            mode="overwrite" if i == 0 else "append",
        )

    schema, _ = _table_schema(tbl)
    r = DeltaLogStreamReader(
        {"path": tbl, "maxcommitsperbatch": "1"}, schema
    )
    start = r.initialOffset()
    seen = []
    for _ in range(4):
        end = r.latestOffset()
        seen.append((int(start["version"]), int(end["version"])))
        parts = r.partitions(start, end)
        assert all(p.change != "empty" for p in parts)
        start = end
    # one commit per batch: offsets advance 0,1,2,3
    assert [e for _s, e in seen] == [0, 1, 2, 3]
    # caught up: next poll does not advance
    assert int(r.latestOffset()["version"]) == 3

    # unbounded reader takes everything in one range
    r2 = DeltaLogStreamReader({"path": tbl}, schema)
    assert int(r2.latestOffset()["version"]) == 3


def test_admission_control_does_not_replay_after_offset_regression(spark, tbl):
    """Restart scenario (round-6 review fix): a fresh reader whose
    in-memory cursor re-based below the checkpointed offset must NOT
    re-plan already-delivered commits — the planned floor tracks batch
    starts and clamps the lower bound."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_pysource import (
        DeltaLogStreamReader,
        _table_schema,
    )

    df = _kv(spark, 40)
    for i in range(6):
        write_delta(
            df.filter(f"k % 6 = {i}"), tbl,
            mode="overwrite" if i == 0 else "append",
        )
    schema, _ = _table_schema(tbl)

    # fresh reader, engine restarts with committed offset 3
    r = DeltaLogStreamReader({"path": tbl, "maxcommitsperbatch": "2"}, schema)
    end1 = r.latestOffset()  # cursor re-bases low: version 1
    assert int(end1["version"]) < 3
    # engine plans (committed=3 -> regressed end): must yield NO data
    parts = r.partitions({"version": 3}, end1)
    assert all(p.change == "empty" for p in parts)
    # next poll advances from the floor, and the next batch only plans
    # commits AFTER the committed offset — never 0..3 again
    end2 = r.latestOffset()
    assert int(end2["version"]) >= 4
    parts2 = r.partitions(end1, end2)
    versions = {p.version for p in parts2 if p.change != "empty"}
    assert versions and min(versions) >= 4


def test_pysource_mapping_mode_edge_cases(spark, tbl):
    """Round 7: column-mapped tables are supported; fields WITHOUT
    physicalName metadata resolve by their logical name (the
    upgraded-in-place convention, physical == logical), and unknown
    mapping modes stay loudly rejected."""
    import json as js

    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        DeltaProtocolError,
    )
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_pysource import (
        _table_schema,
    )

    write_delta(_kv(spark, 5), tbl, mode="overwrite")
    log = os.path.join(tbl, "_delta_log", f"{0:020d}.json")
    lines = [js.loads(line) for line in open(log) if line.strip()]
    for a in lines:
        if "metaData" in a:
            a["metaData"]["configuration"]["delta.columnMapping.mode"] = "name"
    with open(log, "w") as fh:
        for a in lines:
            fh.write(js.dumps(a) + "\n")
    out = spark.read.format("delta_pylog").option("path", tbl).load()
    assert _rows(out) == _rows(_kv(spark, 5))

    for a in lines:
        if "metaData" in a:
            a["metaData"]["configuration"]["delta.columnMapping.mode"] = "wat"
    with open(log, "w") as fh:
        for a in lines:
            fh.write(js.dumps(a) + "\n")
    with pytest.raises(DeltaProtocolError, match="wat"):
        _table_schema(tbl)


def test_cdf_derived_deletes_keep_partition_values(spark, tbl, tmp_path):
    """Derived delete rows of an overwrite commit on a PARTITIONED table
    must carry the partition column (from the remove's partitionValues,
    or the hive path as fallback) — not NULL."""
    df = spark.range(12).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p")
    )
    write_delta(df, tbl, mode="overwrite", partition_by=["p"])  # v0
    write_delta(df.filter("k < 4"), tbl, mode="overwrite")  # v1

    q = (
        spark.readStream.format("delta_pylog")
        .option("path", tbl)
        .option("mode", "cdf")
        .load()
        .writeStream.format("memory")
        .queryName("dpys_pv")
        .option("checkpointLocation", str(tmp_path / "c"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dels = (
        spark.table("dpys_pv")
        .filter("_change_type = 'delete' AND _commit_version = 1")
        .collect()
    )
    assert len(dels) == 12
    assert all(r["p"] is not None and r["p"] == r["k"] % 3 for r in dels)


def test_batch_pushdown_prunes_files_by_stats(spark, tbl):
    """pushFilters records interval bounds; partitions() stats-prunes
    files whose footer min/max provably cannot match — and every filter
    stays residual, so results are EXACT (round 7, VERDICT r6 #5)."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

    from mergermetrics_lakehouse_pipeline_spark.sources.delta_pysource import (
        DeltaLogBatchReader,
        _table_schema,
    )

    # 4 range-partitioned files with disjoint k intervals
    write_delta(
        _kv(spark).repartitionByRange(4, "k"), tbl, mode="overwrite"
    )
    schema, _ = _table_schema(tbl)
    rdr = DeltaLogBatchReader({"path": tbl}, schema)
    residual = list(rdr.pushFilters([GreaterThanOrEqual(("k",), 30)]))
    assert len(residual) == 1  # everything handed back to Spark
    pruned = rdr.partitions()
    assert 1 <= len(pruned) < 4  # skipped provably-disjoint files

    rdr2 = DeltaLogBatchReader({"path": tbl}, schema)
    rdr2.pushFilters([EqualTo(("k",), 7), LessThan(("v",), 100)])
    assert len(rdr2.partitions()) == 1

    # end-to-end: the SQL result under a pushed predicate is exact
    out = (
        spark.read.format("delta_pylog").option("path", tbl).load()
        .filter("k >= 30")
    )
    assert _rows(out.select("k")) == {(k,) for k in range(30, 40)}


def test_protocol_gate_survives_log_truncation(spark, tbl, monkeypatch):
    """After truncate_log the protocol action may live only in the
    checkpoint parquet; the reader-feature gate must still consult it
    instead of silently no-opping (ADVICE r6 #2)."""
    import json as _json

    from mergermetrics_lakehouse_pipeline_spark.sources import delta_log
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        truncate_log,
        write_checkpoint,
    )
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_pysource import (
        DeltaProtocolError,
        _table_schema,
    )

    write_delta(_kv(spark, 10), tbl, mode="overwrite")
    delete_delta_dv(spark, tbl, "k", 0, 2)  # real v3 upgrade (DV feature)
    write_checkpoint(spark, tbl)
    truncate_log(tbl)
    log = os.path.join(tbl, "_delta_log")
    # no JSON commit now carries the protocol action — only the checkpoint
    assert all(
        "protocol" not in a
        for n in os.listdir(log)
        if n.endswith(".json") and n[:20].isdigit()
        for a in map(
            _json.loads, open(os.path.join(log, n)).read().splitlines()
        )
    )
    assert _table_schema(tbl)[0] is not None  # fallback finds + passes

    # prove the gate actually FIRES from the checkpoint-held protocol:
    # with deletionVectors removed from the supported set, the same
    # table must now be rejected (pre-fix it was silently admitted)
    monkeypatch.setattr(
        delta_log, "SUPPORTED_READER_FEATURES", {"timestampNtz"}
    )
    with pytest.raises(DeltaProtocolError, match="deletionVectors"):
        _table_schema(tbl)


# --------------------------------------------------------------------------
# column-mapped tables through the python source (round 7)
# --------------------------------------------------------------------------


def test_batch_read_name_mapped_table(spark, tbl):
    """Name-mode tables read through delta_pylog: the logical schema's
    physicalName metadata rides into executors and file columns resolve
    physically; partition values (physically keyed) coerce back to the
    logical partition column; DML and stats pruning still apply."""
    df = spark.range(24).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        (F.col("id") % 3).alias("p"),
    )
    write_delta(
        df, tbl, partition_by=["p"],
        configuration={"delta.columnMapping.mode": "name"},
    )
    delete_delta(spark, tbl, "k", 0, 3)
    out = spark.read.format("delta_pylog").option("path", tbl).load()
    assert out.columns == ["k", "v", "p"]
    assert _rows(out) == _rows(read_delta(spark, tbl))
    # pushed filters translate logical -> physical stats keys
    got = out.filter("k >= 20")
    assert _rows(got.select("k")) == {(k,) for k in range(20, 24)}


def test_batch_read_id_mapped_table_resolves_by_field_id(spark, tbl):
    """Id-mode tables read through delta_pylog via PARQUET:field_id —
    the engine's own id-mode files carry both ids and physical names;
    resolution must prefer the id."""
    df = _kv(spark, 15)
    write_delta(df, tbl, configuration={"delta.columnMapping.mode": "id"})
    out = spark.read.format("delta_pylog").option("path", tbl).load()
    assert out.columns == ["k", "v"]
    assert _rows(out) == _rows(df)


def test_stream_cdf_from_mapped_table(spark, tbl, tmp_path):
    """CDF streaming through the python source on a name-mapped table:
    cdc files carry physical names; change rows come back logical."""
    write_delta(
        _kv(spark, 12), tbl,
        configuration={
            "delta.columnMapping.mode": "name",
            "delta.enableChangeDataFeed": "true",
        },
    )
    delete_delta(spark, tbl, "k", 0, 4)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("delta_pylog")
        .option("path", tbl)
        .option("mode", "cdf")
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    dels = _rows(
        got.filter("_change_type = 'delete'").select("k", "v")
    )
    assert dels == {(k, k * 10) for k in range(5)}
    ins = got.filter("_change_type = 'insert'").count()
    assert ins == 12


def test_pysource_id_mode_file_without_ids_raises(spark, tbl):
    """Round-7 review finding #5: the python source must fail loudly on
    an id-mode data file with no parquet field ids, matching the native
    reader's contract — never silently name-match or NULL-fill."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        snapshot,
    )

    write_delta(
        _kv(spark, 6), tbl,
        configuration={"delta.columnMapping.mode": "id"},
    )
    snap = snapshot(spark, tbl)
    rel = next(iter(snap.files))
    pq.write_table(
        pa.table({snap.physical("k"): pa.array([99], pa.int64())}),
        os.path.join(tbl, rel),
    )
    out = spark.read.format("delta_pylog").option("path", tbl).load()
    with pytest.raises(Exception, match="field ids"):
        out.collect()


def test_foreign_replace_commit_classified_once(spark, tbl, tmp_path):
    """A whole-table replace as delta-spark logs it (operation CREATE OR
    REPLACE TABLE AS SELECT; full-file removes and adds, no cdc files)
    yields the same derived delete and insert rows from read_cdf,
    stream_cdf_batches and the delta_pylog CDF stream — all three apply
    one commit classifier."""
    import json as js

    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        read_cdf,
        stream_cdf_batches,
    )

    write_delta(_kv(spark, 40), tbl, mode="overwrite")  # v0
    write_delta(_kv(spark, 12), tbl, mode="overwrite")  # v1
    log = os.path.join(tbl, "_delta_log", f"{1:020d}.json")
    actions = [js.loads(line) for line in open(log) if line.strip()]
    assert not any("cdc" in a for a in actions)
    for a in actions:
        if "commitInfo" in a:
            a["commitInfo"]["operation"] = "CREATE OR REPLACE TABLE AS SELECT"
    with open(log, "w") as fh:
        for a in actions:
            fh.write(js.dumps(a) + "\n")

    cols = ["k", "v", "_change_type", "_commit_version"]

    def _changes(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    expect = sorted(
        [(k, k * 10, "insert", 0) for k in range(40)]
        + [(k, k * 10, "delete", 1) for k in range(40)]
        + [(k, k * 10, "insert", 1) for k in range(12)]
    )
    assert _changes(read_cdf(spark, tbl)) == expect
    streamed = [
        row for _v, df in stream_cdf_batches(spark, tbl) for row in _changes(df)
    ]
    assert sorted(streamed) == expect
    q = (
        spark.readStream.format("delta_pylog")
        .option("path", tbl)
        .option("mode", "cdf")
        .load()
        .writeStream.format("memory")
        .queryName("dpys_replace")
        .option("checkpointLocation", str(tmp_path / "c"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert _changes(spark.table("dpys_replace")) == expect


def test_batch_plan_reads_the_log_twice(spark, tbl, monkeypatch):
    """A batch plan of a 5-commit table (schema, then the reader's
    partitions) replays the log once for the schema and once for the
    files: two directory listings, ten commit parses."""
    from mergermetrics_lakehouse_pipeline_spark.sources import delta_log
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_pysource import (
        DeltaLogDataSource,
    )

    write_delta(_kv(spark, 10), tbl, mode="overwrite")
    for i in range(4):
        write_delta(_kv(spark, 10).filter(f"k = {i}"), tbl, mode="append")
    calls = {"_scan_log": 0, "_parse_log_file": 0}
    for name in calls:
        real = getattr(delta_log, name)

        def counting(*args, _real=real, _name=name, **kwargs):
            calls[_name] += 1
            return _real(*args, **kwargs)

        monkeypatch.setattr(delta_log, name, counting)
    source = DeltaLogDataSource({"path": tbl})
    parts = source.reader(source.schema()).partitions()
    assert len(parts) >= 5  # one file per append at least
    assert calls == {"_scan_log": 2, "_parse_log_file": 10}
