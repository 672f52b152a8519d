"""catalogOwned-preview (round 11): commit ownership at a coordinator —
staged commits, ratification races, backfill, the filesystem-reader
gate, and coordinated time travel."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mergermetrics_lakehouse_pipeline_spark.sources.delta_coordinated import (
    _stage_commit,
    _staged_dir,
    _table_id,
    append_coordinated,
    backfill,
    CATALOG_OWNED_FEATURE,
    create_catalog_owned,
    FileCommitCoordinator,
    read_delta_coordinated,
    snapshot_coordinated,
    upgrade_to_catalog_owned,
)
from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
    ConcurrentModificationError,
    DeltaProtocolError,
    read_delta,
    snapshot,
    write_delta,
)


@pytest.fixture()
def coord_table(spark):
    base = tempfile.mkdtemp(prefix="mm_co_")
    root = os.path.join(base, "t")
    cat = FileCommitCoordinator(os.path.join(base, "catalog"))
    df = spark.range(12).select("id", (F.col("id") % 3).alias("g"))
    create_catalog_owned(df, root, cat)
    return root, cat


def _g(spark, lo, hi):
    return spark.range(lo, hi).select("id", (F.col("id") % 3).alias("g"))


def test_upgrade_stamps_feature_and_restates_capabilities(spark, coord_table):
    root, cat = coord_table
    snap = snapshot_coordinated(spark, root, cat)
    proto = snap.protocol
    assert proto["minReaderVersion"] == 3
    assert proto["minWriterVersion"] == 7
    assert CATALOG_OWNED_FEATURE in proto["readerFeatures"]
    assert CATALOG_OWNED_FEATURE in proto["writerFeatures"]
    assert "appendOnly" in proto["writerFeatures"]  # restated legacy
    with pytest.raises(DeltaProtocolError):
        upgrade_to_catalog_owned(spark, root, cat)  # already owned


def test_filesystem_readers_are_gated(spark, coord_table):
    root, _cat = coord_table
    with pytest.raises(DeltaProtocolError, match="catalogOwned"):
        snapshot(spark, root)
    with pytest.raises(DeltaProtocolError, match="catalogOwned"):
        read_delta(spark, root)
    # the python datasource is a filesystem reader too
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_pysource import (
        register_delta_source,
    )

    register_delta_source(spark)
    with pytest.raises(Exception, match="catalogOwned"):
        spark.read.format("delta_pylog").option("path", root).load().count()


def test_coordinated_append_and_lazy_backfill(spark, coord_table):
    root, cat = coord_table
    v2 = append_coordinated(_g(spark, 12, 20), root, cat)
    v3 = append_coordinated(_g(spark, 20, 23), root, cat)
    assert (v2, v3) == (2, 3)
    # the LAST ratified commit stays staged until a read backfills it
    log = os.path.join(root, "_delta_log")
    assert not os.path.exists(os.path.join(log, f"{v3:020d}.json"))
    out = read_delta_coordinated(spark, root, cat)
    assert out.count() == 23
    assert out.agg(F.sum("id")).first()[0] == sum(range(23))
    assert os.path.exists(os.path.join(log, f"{v3:020d}.json"))


def test_never_ratified_staged_commits_are_invisible(spark, coord_table):
    root, cat = coord_table
    append_coordinated(_g(spark, 12, 15), root, cat)
    # forge a staged commit that never wins ratification
    _stage_commit(
        root,
        99,
        [{"commitInfo": {"timestamp": 1, "operation": "WRITE"}}],
    )
    snap = snapshot_coordinated(spark, root, cat)
    assert snap.version == 2
    assert read_delta_coordinated(spark, root, cat).count() == 15


class _RacingCoordinator(FileCommitCoordinator):
    """Ratifies one foreign commit at the contested version IN BETWEEN
    the victim's snapshot and its own ratify call — the deterministic
    reproduction of a real concurrent writer winning the race."""

    def __init__(self, root: str, table: str, foreign_actions) -> None:
        super().__init__(root)
        self._table = table
        self._foreign_actions = foreign_actions
        self.raced = False

    def ratify(self, table_id, version, staged_name):
        if not self.raced:
            self.raced = True
            foreign = _stage_commit(self._table, version, self._foreign_actions)
            assert super().ratify(table_id, version, foreign)
        return super().ratify(table_id, version, staged_name)


def test_ratification_race_loser_rebases(spark, coord_table):
    root, cat = coord_table
    racing = _RacingCoordinator(
        cat.root,
        root,
        [
            {
                "commitInfo": {
                    "timestamp": 1,
                    "operation": "WRITE",
                    "operationParameters": {"mode": "Append"},
                }
            }
        ],
    )
    snap = snapshot_coordinated(spark, root, cat)
    v = append_coordinated(_g(spark, 12, 16), root, racing)
    assert racing.raced
    assert v == snap.version + 2  # lost version+1, rebased onto +2
    assert read_delta_coordinated(spark, root, cat).count() == 16


def test_ratification_race_metadata_winner_aborts(spark, coord_table):
    root, cat = coord_table
    racing = _RacingCoordinator(
        cat.root,
        root,
        [
            {"commitInfo": {"timestamp": 1, "operation": "SET TBLPROPERTIES"}},
            {
                "metaData": {
                    "id": "someone-else",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(
                        {"type": "struct", "fields": []}
                    ),
                    "partitionColumns": [],
                    "configuration": {},
                }
            },
        ],
    )
    with pytest.raises(ConcurrentModificationError, match="metadata"):
        append_coordinated(_g(spark, 12, 16), root, racing)


def test_backfill_is_idempotent_and_race_safe(spark, coord_table):
    root, cat = coord_table
    append_coordinated(_g(spark, 12, 15), root, cat)
    first = backfill(root, cat)
    assert backfill(root, cat) == []  # second pass: nothing left
    assert first  # the first materialized at least the newest commit
    assert read_delta_coordinated(spark, root, cat).count() == 15


def test_coordinated_time_travel(spark, coord_table):
    root, cat = coord_table
    append_coordinated(_g(spark, 12, 20), root, cat)
    append_coordinated(_g(spark, 20, 30), root, cat)
    assert read_delta_coordinated(spark, root, cat, version=1).count() == 12
    assert read_delta_coordinated(spark, root, cat, version=2).count() == 20
    assert read_delta_coordinated(spark, root, cat).count() == 30


def test_append_schema_mismatch_raises(spark, coord_table):
    root, cat = coord_table
    with pytest.raises(ValueError, match="schema"):
        append_coordinated(spark.range(3).select("id"), root, cat)


def test_upgrade_of_existing_plain_table(spark):
    base = tempfile.mkdtemp(prefix="mm_co_up_")
    root = os.path.join(base, "t")
    cat = FileCommitCoordinator(os.path.join(base, "catalog"))
    write_delta(_g(spark, 0, 5), root, mode="overwrite")
    write_delta(_g(spark, 5, 8), root, mode="append")
    v = upgrade_to_catalog_owned(spark, root, cat)
    assert v == 2
    append_coordinated(_g(spark, 8, 11), root, cat)
    assert read_delta_coordinated(spark, root, cat).count() == 11


def test_scoped_gate_restores_after_read(spark, coord_table):
    """The scoped reader-feature context must not leak: a plain
    filesystem read still raises right after a coordinated read."""
    root, cat = coord_table
    read_delta_coordinated(spark, root, cat).count()
    with pytest.raises(DeltaProtocolError, match="catalogOwned"):
        snapshot(spark, root)


def test_plain_writers_and_dml_are_gated(spark, coord_table):
    """Every filesystem-committing entry point refuses a catalog-owned
    table (they all snapshot first): split-brain is impossible."""
    root, _cat = coord_table
    with pytest.raises(DeltaProtocolError, match="catalogOwned"):
        write_delta(_g(spark, 0, 3), root, mode="append")
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        delete_delta,
    )

    with pytest.raises(DeltaProtocolError, match="catalogOwned"):
        delete_delta(spark, root, "id", 0, 3)


def test_stamped_feature_tables_refuse_coordinated_append(spark):
    """Preview scope gate: row-tracking tables need add-action stamping
    the coordinated path does not implement — refuse loudly."""
    base = tempfile.mkdtemp(prefix="mm_co_rt_")
    root = os.path.join(base, "t")
    cat = FileCommitCoordinator(os.path.join(base, "catalog"))
    write_delta(
        _g(spark, 0, 5),
        root,
        mode="overwrite",
        configuration={"delta.enableRowTracking": "true"},
    )
    upgrade_to_catalog_owned(spark, root, cat)
    with pytest.raises(DeltaProtocolError, match="row tracking"):
        append_coordinated(_g(spark, 5, 8), root, cat)


def test_coordinated_paths_refuse_plain_tables(spark):
    """The converse gate (round-11 review): coordinating commits on a
    filesystem-owned table would ratify versions concurrent plain
    writers legitimately win on disk — refuse before any
    ratification."""
    base = tempfile.mkdtemp(prefix="mm_co_plain_")
    root = os.path.join(base, "t")
    cat = FileCommitCoordinator(os.path.join(base, "catalog"))
    write_delta(_g(spark, 0, 6), root, mode="overwrite")
    with pytest.raises(DeltaProtocolError, match="not catalog-owned"):
        append_coordinated(_g(spark, 6, 9), root, cat)
    with pytest.raises(DeltaProtocolError, match="not catalog-owned"):
        read_delta_coordinated(spark, root, cat)
    # nothing was ratified and the table is untouched
    assert cat.ratified(_table_id(root)) == {}
    assert read_delta(spark, root).count() == 6


def test_backfill_detects_split_brain(spark, coord_table):
    """An existing <v>.json that differs from the ratified staged
    commit is a non-coordinated writer having won the same version —
    surfaced loudly, never skipped (round-11 review)."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        _commit_file,
    )

    root, cat = coord_table
    v = append_coordinated(_g(spark, 12, 15), root, cat)
    with open(_commit_file(root, v), "w", encoding="utf-8") as fh:
        fh.write(
            json.dumps({"commitInfo": {"operation": "ROGUE WRITE"}}) + "\n"
        )
    with pytest.raises(DeltaProtocolError, match="split-brain"):
        backfill(root, cat)


def test_scoped_gate_is_thread_local(spark, coord_table):
    """The reader-feature allowance is confined to the coordinated call
    stack: another driver thread's plain snapshot stays gated even
    while this thread holds the context open (round-11 review)."""
    import threading

    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        _allow_reader_features,
    )

    root, _cat = coord_table
    outcome: list[str] = []

    def probe() -> None:
        try:
            snapshot(spark, root)
            outcome.append("leaked")
        except DeltaProtocolError:
            outcome.append("gated")

    with _allow_reader_features({CATALOG_OWNED_FEATURE}):
        t = threading.Thread(target=probe)
        t.start()
        t.join()
    assert outcome == ["gated"]


# ---------------------------------------------------------------------------
# coordinated DML (round 12): DELETE/UPDATE/MERGE through the coordinator
# ---------------------------------------------------------------------------

from mergermetrics_lakehouse_pipeline_spark.sources.delta_coordinated import (  # noqa: E402
    delete_coordinated,
    delete_rows_coordinated,
    merge_coordinated,
    update_coordinated,
    update_rows_coordinated,
)


def _foreign_append_actions(root, ids):
    """A REAL foreign blind-append commit: a parquet file in the table
    directory plus its add action with truthful footer stats — so a
    rebased DML's subsequent reads see the foreign rows."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    name = f"part-foreign-{_uuid.uuid4().hex}.parquet"
    tbl = pa.table(
        {
            "id": pa.array(list(ids), pa.int64()),
            "g": pa.array([i % 3 for i in ids], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(root, name))
    stats = json.dumps(
        {
            "numRecords": len(ids),
            "minValues": {"id": min(ids), "g": min(i % 3 for i in ids)},
            "maxValues": {"id": max(ids), "g": max(i % 3 for i in ids)},
            "nullCount": {"id": 0, "g": 0},
        }
    )
    return [
        {
            "commitInfo": {
                "timestamp": 1,
                "operation": "WRITE",
                "operationParameters": {"mode": "Append"},
            }
        },
        {
            "add": {
                "path": name,
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(root, name)),
                "modificationTime": 1,
                "dataChange": True,
                "stats": stats,
            }
        },
    ]


def test_coordinated_delete_roundtrip(spark, coord_table):
    root, cat = coord_table
    v, n = delete_coordinated(spark, root, cat, "id", 0, 5)
    assert n >= 1 and v == 2
    out = read_delta_coordinated(spark, root, cat)
    assert sorted(r.id for r in out.collect()) == list(range(6, 12))
    # time travel still sees the pre-DML table
    assert read_delta_coordinated(spark, root, cat, version=1).count() == 12


def test_coordinated_update_roundtrip(spark, coord_table):
    root, cat = coord_table
    v, n = update_coordinated(
        spark, root, cat, "id", 0, 3, {"g": "g + 100"}
    )
    assert n >= 1
    rows = {
        r.id: r.g for r in read_delta_coordinated(spark, root, cat).collect()
    }
    for i in range(12):
        assert rows[i] == (i % 3 + 100 if i <= 3 else i % 3)


def test_coordinated_arbitrary_predicate_dml(spark, coord_table):
    root, cat = coord_table
    _v, n = update_rows_coordinated(
        spark, root, cat, "g = 2 AND id < 6", {"g": "-1"}
    )
    assert n >= 1
    _v, n = delete_rows_coordinated(spark, root, cat, "g = -1")
    assert n >= 1
    out = sorted(
        r.id for r in read_delta_coordinated(spark, root, cat).collect()
    )
    assert out == [i for i in range(12) if not (i % 3 == 2 and i < 6)]


def test_coordinated_merge_roundtrip(spark, coord_table):
    root, cat = coord_table
    source = spark.createDataFrame(
        [(0, 99), (1, 99), (50, 7), (51, 7)], "id long, g long"
    )
    v, n = merge_coordinated(spark, root, cat, source, "id")
    assert n >= 1
    rows = {
        r.id: r.g for r in read_delta_coordinated(spark, root, cat).collect()
    }
    assert rows[0] == 99 and rows[1] == 99  # matched -> updated
    assert rows[50] == 7 and rows[51] == 7  # unmatched -> inserted
    assert rows[5] == 2  # untouched row keeps its value
    assert len(rows) == 14


def test_coordinated_dml_rebases_over_disjoint_append(spark, coord_table):
    """Predicate-guard rebase on ratification loss: a concurrent blind
    append whose stats prove it disjoint from the DELETE's predicate
    wins the contested version; the DML rebases onto the next one and
    BOTH effects land."""
    root, cat = coord_table
    racing = _RacingCoordinator(
        cat.root, root, _foreign_append_actions(root, range(100, 103))
    )
    v, n = delete_coordinated(spark, root, racing, "id", 0, 5)
    assert racing.raced and n >= 1
    assert v == 3  # lost 2 to the append, rebased onto 3
    out = sorted(
        r.id for r in read_delta_coordinated(spark, root, cat).collect()
    )
    assert out == list(range(6, 12)) + [100, 101, 102]


def test_coordinated_dml_aborts_on_intersecting_append(spark, coord_table):
    """The same race with an append whose rows MAY match the predicate
    aborts: rebasing would silently miss rows the DELETE should have
    removed."""
    root, cat = coord_table
    racing = _RacingCoordinator(
        cat.root, root, _foreign_append_actions(root, range(3, 5))
    )
    with pytest.raises(ConcurrentModificationError, match="predicate"):
        delete_coordinated(spark, root, racing, "id", 0, 5)


def test_coordinated_dml_aborts_when_winner_removed_read_files(
    spark, coord_table
):
    """A concurrent DML winner that removed a file this transaction
    read aborts the loser (write-write conflict)."""
    root, cat = coord_table
    foreign = [
        {"commitInfo": {"timestamp": 1, "operation": "DELETE"}},
        *[
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": 1,
                    "dataChange": True,
                }
            }
            for rel in snapshot_coordinated(spark, root, cat).files
        ],
    ]
    racing = _RacingCoordinator(cat.root, root, foreign)
    with pytest.raises(ConcurrentModificationError, match="removed"):
        delete_coordinated(spark, root, racing, "id", 0, 5)


def test_coordinated_merge_by_source_holds_whole_table_guard(
    spark, coord_table
):
    """The by-source delete clause reads the whole table, so ANY
    concurrent data winner aborts it — same as the filesystem path."""
    root, cat = coord_table
    racing = _RacingCoordinator(
        cat.root, root, _foreign_append_actions(root, range(100, 102))
    )
    source = spark.createDataFrame([(0, 99)], "id long, g long")
    with pytest.raises(ConcurrentModificationError):
        merge_coordinated(
            spark, root, racing, source, "id",
            when_not_matched_by_source="delete",
        )


def test_coordinated_dml_refuses_plain_table(spark):
    base = tempfile.mkdtemp(prefix="mm_co_dmlplain_")
    root = os.path.join(base, "t")
    cat = FileCommitCoordinator(os.path.join(base, "catalog"))
    write_delta(_g(spark, 0, 6), root, mode="overwrite")
    with pytest.raises(DeltaProtocolError, match="not catalog-owned"):
        delete_coordinated(spark, root, cat, "id", 0, 2)


# ---------------------------------------------------------------------------
# streaming + log maintenance through the coordinator (round 13)
# ---------------------------------------------------------------------------


def test_coordinated_stream_sees_ratified_unbackfilled_commits(
    spark, coord_table
):
    """The streaming source must consult the coordinator: the LAST
    ratified commit has no numbered JSON yet (lazy backfill), and a
    filesystem LIST would silently stop before it — the staleness bug
    catalog ownership exists to prevent. The coordinated replay
    backfills first, so every ratified batch arrives."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_coordinated import (
        stream_commit_batches_coordinated,
    )

    root, cat = coord_table
    append_coordinated(_g(spark, 12, 20), root, cat)
    append_coordinated(_g(spark, 20, 23), root, cat)
    log = os.path.join(root, "_delta_log")
    assert not os.path.exists(os.path.join(log, f"{3:020d}.json"))
    batches = stream_commit_batches_coordinated(spark, root, cat)
    got = {v: sorted(r.id for r in df.collect()) for v, df in batches}
    # v0 create carries rows; v1 (upgrade) is protocol-only and yields
    # nothing; v2/v3 are the appends — including the unbackfilled tail
    assert got == {
        0: list(range(12)),
        2: list(range(12, 20)),
        3: list(range(20, 23)),
    }
    # offsets compose: resume past the consumed frontier
    tail = stream_commit_batches_coordinated(spark, root, cat, from_version=3)
    assert [v for v, _ in tail] == [3]


def test_coordinated_stream_rejects_dml_commits(spark, coord_table):
    """dataChange removes reject exactly as on the filesystem path — a
    copy-on-write DELETE's rewritten files are not fresh appends."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_coordinated import (
        delete_coordinated,
        stream_commit_batches_coordinated,
    )

    root, cat = coord_table
    delete_coordinated(spark, root, cat, "id", 0, 5)
    with pytest.raises(DeltaProtocolError, match="append-only"):
        stream_commit_batches_coordinated(spark, root, cat)


def test_coordinated_stream_refuses_plain_table(spark):
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_coordinated import (
        stream_commit_batches_coordinated,
    )

    base = tempfile.mkdtemp(prefix="mm_co_stream_")
    root = os.path.join(base, "t")
    cat = FileCommitCoordinator(os.path.join(base, "catalog"))
    write_delta(_g(spark, 0, 6), root, mode="overwrite")
    with pytest.raises(DeltaProtocolError, match="not catalog-owned"):
        stream_commit_batches_coordinated(spark, root, cat)


def test_coordinated_checkpoint_lands_at_ratified_frontier(
    spark, coord_table
):
    """write_checkpoint_coordinated backfills, checkpoints exactly the
    frontier version, and the filesystem write_checkpoint stays gated
    on catalog-owned tables (its snapshot refuses the feature)."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_coordinated import (
        ratified_frontier,
        write_checkpoint_coordinated,
    )
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        write_checkpoint,
    )

    root, cat = coord_table
    append_coordinated(_g(spark, 12, 20), root, cat)
    append_coordinated(_g(spark, 20, 23), root, cat)
    with pytest.raises(DeltaProtocolError, match="catalogOwned"):
        write_checkpoint(spark, root)  # filesystem path stays gated
    v = write_checkpoint_coordinated(spark, root, cat)
    assert v == 3 == ratified_frontier(root, cat)
    log = os.path.join(root, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{v:020d}.checkpoint.parquet"))


def test_coordinated_truncate_forgets_and_stays_truncated(
    spark, coord_table
):
    """Retention end-to-end: checkpoint at the frontier, truncate the
    numbered JSONs, and — the coordinated half — the catalog FORGETS
    the truncated versions and their staged copies are gone, so the
    next snapshot does NOT faithfully re-backfill what retention just
    deleted. Replay from the checkpoint alone still serves reads and
    new appends keep committing past the horizon."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_coordinated import (
        truncate_log_coordinated,
        write_checkpoint_coordinated,
    )

    root, cat = coord_table
    append_coordinated(_g(spark, 12, 20), root, cat)
    append_coordinated(_g(spark, 20, 23), root, cat)
    write_checkpoint_coordinated(spark, root, cat)
    removed = truncate_log_coordinated(root, cat)
    assert removed == [0, 1, 2, 3]
    tid = _table_id(root)
    assert cat.ratified(tid) == {}  # catalog forgot the covered range
    staged = _staged_dir(root)
    assert [n for n in os.listdir(staged) if n.endswith(".json")] == []
    log = os.path.join(root, "_delta_log")
    snap = snapshot_coordinated(spark, root, cat)
    assert snap.version == 3
    # retention did not undo itself: no numbered JSON re-materialized
    assert not os.path.exists(os.path.join(log, f"{2:020d}.json"))
    assert read_delta_coordinated(spark, root, cat).count() == 23
    v = append_coordinated(_g(spark, 23, 25), root, cat)
    assert v == 4
    assert read_delta_coordinated(spark, root, cat).count() == 25


def test_coordinated_compaction_backfills_and_bounds_range(
    spark, coord_table
):
    """Minor log compaction over a coordinated range: the staged tail
    is backfilled so the range reconciles, the compacted file replays
    (delete the individual JSONs and snapshot still resolves), and a
    range past the ratified frontier is refused."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_coordinated import (
        compact_log_coordinated,
    )

    root, cat = coord_table
    append_coordinated(_g(spark, 12, 20), root, cat)
    append_coordinated(_g(spark, 20, 23), root, cat)
    with pytest.raises(DeltaProtocolError, match="frontier"):
        compact_log_coordinated(root, cat, 1, 99)
    path = compact_log_coordinated(root, cat, 1, 3)
    assert os.path.basename(path) == (
        f"{1:020d}.{3:020d}.compacted.json"
    )
    log = os.path.join(root, "_delta_log")
    for v in (1, 2, 3):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    # forget the catalog records and drop the staged copies too —
    # otherwise backfill faithfully re-materializes the JSONs and the
    # compacted file is never consulted (the assertion would be
    # vacuous; review round 13)
    tid = _table_id(root)
    staged = _staged_dir(root)
    cat.forget(tid, 3)
    for n in list(os.listdir(staged)):
        if n.endswith(".json"):
            os.unlink(os.path.join(staged, n))
    snap = snapshot_coordinated(spark, root, cat)
    assert snap.version == 3
    for v in (1, 2, 3):  # replay resolved from the compacted file alone
        assert not os.path.exists(os.path.join(log, f"{v:020d}.json"))
    assert read_delta_coordinated(spark, root, cat).count() == 23


def test_coordinated_optimize_compacts_and_streams_skip_it(
    spark, coord_table
):
    """OPTIMIZE through the coordinator: fewer live files, identical
    rows, dataChange:false preserved so the coordinated streaming
    replay yields NOTHING for the optimize commit; the filesystem
    optimize stays gated on catalog-owned tables."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_coordinated import (
        optimize_coordinated,
        stream_commit_batches_coordinated,
    )
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        optimize_delta,
    )

    root, cat = coord_table
    append_coordinated(_g(spark, 12, 16), root, cat)
    append_coordinated(_g(spark, 16, 20), root, cat)
    n_before = len(snapshot_coordinated(spark, root, cat).files)
    with pytest.raises(DeltaProtocolError, match="catalogOwned"):
        optimize_delta(spark, root, target_files=1)
    v = optimize_coordinated(spark, root, cat, target_files=1)
    snap = snapshot_coordinated(spark, root, cat)
    assert snap.version == v
    assert len(snap.files) < n_before
    out = read_delta_coordinated(spark, root, cat)
    assert sorted(r.id for r in out.collect()) == list(range(20))
    batches = stream_commit_batches_coordinated(spark, root, cat)
    assert [bv for bv, _ in batches] == [0, 2, 3]  # optimize v4 silent


def test_coordinated_vacuum_protects_staged_tail_files(spark, coord_table):
    """The coordinated-vacuum safety property: a ratified-but-staged
    commit's data files are INVISIBLE to a filesystem LIST, and a
    naive vacuum would reclaim them as unreferenced. The coordinated
    path backfills first, so the staged tail's files survive and the
    table reads back complete; never-ratified staged garbage is still
    reclaimed."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_coordinated import (
        optimize_coordinated,
        vacuum_coordinated,
    )

    root, cat = coord_table
    append_coordinated(_g(spark, 12, 16), root, cat)
    optimize_coordinated(spark, root, cat, target_files=1)
    # the LAST ratified commit stays staged-only until something reads
    append_coordinated(_g(spark, 16, 20), root, cat)
    log = os.path.join(root, "_delta_log")
    assert not os.path.exists(os.path.join(log, f"{4:020d}.json"))
    removed = vacuum_coordinated(spark, root, cat, retain_last=1)
    assert removed  # the pre-optimize generation is reclaimable
    out = read_delta_coordinated(spark, root, cat)
    assert sorted(r.id for r in out.collect()) == list(range(20))


def test_coordinated_cdf_stream_carries_dml_changes(spark, coord_table):
    """CDF streaming through the coordinator: appends arrive as
    inserts, a coordinated copy-on-write DELETE arrives as delete
    change rows (from its _change_data files) — the DML-capable
    stream the append-only source rejects."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_coordinated import (
        delete_coordinated,
        stream_cdf_batches_coordinated,
    )

    del coord_table  # needs its own CDF-enabled table
    base = tempfile.mkdtemp(prefix="mm_co_cdf_")
    root = os.path.join(base, "t")
    cat = FileCommitCoordinator(os.path.join(base, "catalog"))
    create_catalog_owned(
        _g(spark, 0, 12),
        root,
        cat,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    append_coordinated(_g(spark, 12, 15), root, cat)
    delete_coordinated(spark, root, cat, "id", 0, 2)
    batches = stream_cdf_batches_coordinated(spark, root, cat)
    by_type: dict[str, int] = {}
    for _v, df in batches:
        for r in df.collect():
            by_type[r._change_type] = by_type.get(r._change_type, 0) + 1
    assert by_type.get("insert", 0) >= 15  # create + append rows
    assert by_type.get("delete", 0) == 3  # ids 0..2


def test_coordinated_frontier_survives_full_retention(spark, coord_table):
    """After checkpoint + truncate (no numbered JSONs, no catalog
    records) the checkpoint alone carries the frontier — a second
    checkpoint on the healthy just-truncated table must succeed, not
    raise 'no commits at all' (review round 13)."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_coordinated import (
        ratified_frontier,
        truncate_log_coordinated,
        write_checkpoint_coordinated,
    )

    root, cat = coord_table
    append_coordinated(_g(spark, 12, 16), root, cat)
    write_checkpoint_coordinated(spark, root, cat)
    truncate_log_coordinated(root, cat)
    assert ratified_frontier(root, cat) == 2
    assert write_checkpoint_coordinated(spark, root, cat) == 2
    v = append_coordinated(_g(spark, 16, 18), root, cat)
    assert v == 3


def test_coordinated_maintenance_refuses_plain_tables(spark):
    """truncate/compact are gated like every other coordinated entry
    point: running them on a filesystem-owned table would side-create
    catalog state for it (review round 13)."""
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_coordinated import (
        compact_log_coordinated,
        truncate_log_coordinated,
    )
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
        write_checkpoint,
    )

    base = tempfile.mkdtemp(prefix="mm_co_maintplain_")
    root = os.path.join(base, "t")
    cat = FileCommitCoordinator(os.path.join(base, "catalog"))
    write_delta(_g(spark, 0, 6), root, mode="overwrite")
    write_delta(_g(spark, 6, 9), root, mode="append")
    write_checkpoint(spark, root)
    with pytest.raises(DeltaProtocolError, match="not catalog-owned"):
        truncate_log_coordinated(root, cat)
    with pytest.raises(DeltaProtocolError, match="not catalog-owned"):
        compact_log_coordinated(root, cat, 0, 1)


def test_coordinated_append_commit_matches_plain_append(spark, coord_table):
    """The coordinated append authors its commit with the same builder
    as write_delta: its add actions equal a plain append's of the same
    rows except for paths and times, and its commitInfo is the plain
    append's."""
    root, cat = coord_table
    plain = os.path.join(os.path.dirname(root), "plain")
    write_delta(_g(spark, 0, 12), plain, mode="overwrite")
    pv = write_delta(_g(spark, 12, 16), plain, mode="append")
    cv = append_coordinated(_g(spark, 12, 16), root, cat)
    backfill(root, cat, up_to=cv)

    def commit(table, v):
        path = os.path.join(table, "_delta_log", f"{v:020d}.json")
        actions = [json.loads(line) for line in open(path) if line.strip()]
        adds = sorted(
            (
                {k: x for k, x in a["add"].items() if k not in ("path", "modificationTime")}
                for a in actions
                if "add" in a
            ),
            key=lambda a: a["stats"],
        )
        info = next(a["commitInfo"] for a in actions if "commitInfo" in a)
        info = {k: x for k, x in info.items() if k not in ("timestamp", "inCommitTimestamp")}
        return adds, info

    plain_adds, plain_info = commit(plain, pv)
    coord_adds, coord_info = commit(root, cv)
    assert coord_adds and coord_adds == plain_adds
    assert coord_info == plain_info == {
        "operation": "WRITE",
        "operationParameters": {"mode": "APPEND"},
    }
