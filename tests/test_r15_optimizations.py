"""Round-15 optimization invariants.

Each test pins a behavior an optimization could have silently changed:
the pyarrow checkpoint writer/reader round-trip (None-stripping parity
with the old to_json path, multi-part folding), the bpe_merges cache cap
(<= 2 live generations mid-loop, none after exit), the salted join's
map-column tolerance (ADVICE r14 #1), and the checkpoint writer's
promotion of mixed-type foreign action values to string.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrame

from mergermetrics_lakehouse_pipeline_spark.scratch import scratch_dir
from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
    _scan_log,
    read_delta,
    snapshot,
    truncate_log,
    write_checkpoint,
    write_delta,
)


@pytest.fixture(scope="module")
def spark():
    from mergermetrics_lakehouse_pipeline_spark.session import get_spark

    return get_spark("test-r15-optimizations")


def test_checkpoint_pyarrow_roundtrip_strips_nulls(spark):
    """The pyarrow checkpoint reader must reproduce the old
    to_json-based dict shape: absent optional fields are MISSING from
    the action dicts (consumers probe with `'baseRowId' not in a`),
    never present as None."""
    root = scratch_dir(prefix="r15_ckpt_") + "/t"
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("v")
    )
    write_delta(df, root, mode="overwrite")
    write_checkpoint(spark, root)
    # force the replay to come from the checkpoint: snapshot at the
    # checkpointed version with the commit JSON still present reads the
    # checkpoint first (start = ckpt + 1 skips the JSON)
    snap = snapshot(spark, root)
    assert len(snap.files) > 0
    for a in snap.files.values():
        assert None not in a.values(), a
        assert "baseRowId" not in a
        assert "deletionVector" not in a
        assert isinstance(a["size"], int)
        assert isinstance(a["dataChange"], bool)
    assert read_delta(spark, root).count() == 20


def test_checkpoint_multipart_folds_all_parts(spark):
    root = scratch_dir(prefix="r15_ckpt_mp_") + "/t"
    df = spark.range(30).repartition(6).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v")
    )
    write_delta(df, root, mode="overwrite")
    write_checkpoint(spark, root, parts=3)
    _commits, ckpts, _comps = _scan_log(root)
    assert len(ckpts[max(ckpts)]) == 3
    snap = snapshot(spark, root)
    assert read_delta(spark, root).count() == 30
    assert len(snap.files) >= 6


def test_checkpoint_more_parts_than_rows(spark):
    """parts > action rows must still write a complete, foldable
    <v>.checkpoint.<i>.<n> set (empty tail parts keep the schema)."""
    root = scratch_dir(prefix="r15_ckpt_overpart_") + "/t"
    df = spark.range(5).coalesce(1).select(F.col("id").alias("k"))
    write_delta(df, root, mode="overwrite")
    write_checkpoint(spark, root, parts=8)
    _commits, ckpts, _comps = _scan_log(root)
    assert len(ckpts[max(ckpts)]) == 8
    assert read_delta(spark, root).count() == 5


def test_checkpoint_promotes_mixed_type_foreign_values(spark):
    """A foreign log may type one action field differently across
    commits. Checkpointing promotes such a field to string (non-strings
    as their JSON text) instead of refusing the log, and the log
    truncated to that checkpoint still replays."""
    root = scratch_dir(prefix="r15_ckpt_mixed_") + "/t"
    write_delta(spark.range(4).select(F.col("id").alias("k")), root, mode="overwrite")
    write_delta(spark.range(4, 8).select(F.col("id").alias("k")), root, mode="append")
    tags_by_version = {
        0: {"INSERTION_TIME": 1700000000000, "ZORDER": {"by": ["k"]}},
        1: {"INSERTION_TIME": "1700000000001", "ZORDER": "k"},
    }
    for v, tags in tags_by_version.items():
        path = os.path.join(root, "_delta_log", f"{v:020d}.json")
        with open(path, encoding="utf-8") as fh:
            actions = [json.loads(line) for line in fh]
        for a in actions:
            if "add" in a:
                a["add"]["tags"] = tags
        with open(path, "w", encoding="utf-8") as fh:
            fh.writelines(json.dumps(a) + "\n" for a in actions)

    write_checkpoint(spark, root)
    truncate_log(root)
    tags = {
        tuple(sorted(a["tags"].items())) for a in snapshot(spark, root).files.values()
    }
    assert tags == {
        (("INSERTION_TIME", "1700000000000"), ("ZORDER", '{"by": ["k"]}')),
        (("INSERTION_TIME", "1700000000001"), ("ZORDER", "k")),
    }
    assert read_delta(spark, root).count() == 8


def test_bpe_merges_caches_capped_at_two(spark):
    """bpe_merges must hold at most 2 cached generations at any point
    in the loop and unpersist every generation on exit (VERDICT r14
    'what's wrong' #2 / ADVICE r14 #2)."""
    from mergermetrics_lakehouse_pipeline_spark.operators import corpus

    live = 0
    max_live = 0
    orig_cache = DataFrame.cache
    orig_unpersist = DataFrame.unpersist

    def counting_cache(self):
        nonlocal live, max_live
        live += 1
        max_live = max(max_live, live)
        return orig_cache(self)

    def counting_unpersist(self, blocking=False):
        nonlocal live
        live -= 1
        return orig_unpersist(self, blocking)

    docs = spark.createDataFrame(
        [("low lower lowest newer new newest",), ("wide wider widest low",)],
        "body string",
    )
    DataFrame.cache = counting_cache
    DataFrame.unpersist = counting_unpersist
    try:
        merges = corpus.bpe_merges(docs, "body", n_merges=5)
    finally:
        DataFrame.cache = orig_cache
        DataFrame.unpersist = orig_unpersist
    assert len(merges) == 5
    assert live == 0, "cached generations leaked past loop exit"
    assert max_live <= 2, f"held {max_live} generations live (cap is 2)"


def test_salted_join_tolerates_map_columns(spark):
    """xxhash64 rejects MapType; the salt input must exclude map
    columns so a map-carrying skewed side still joins (ADVICE r14 #1),
    with the result equal to the plain join."""
    from mergermetrics_lakehouse_pipeline_spark.operators.skew import salted_join

    skewed = spark.createDataFrame(
        [(1, {"a": "x"}), (1, {"b": "y"}), (2, {}), (3, None)],
        "k int, tags map<string,string>",
    )
    other = spark.createDataFrame([(1, "one"), (2, "two")], "k int, name string")
    got = salted_join(skewed, other, on="k", how="inner", salt=4)
    plain = skewed.join(other, "k", "inner")

    def key(r):
        return (r.k, sorted((r.tags or {}).items()), r.name)

    assert sorted(map(key, got.collect())) == sorted(
        map(key, plain.collect())
    )


def test_label_propagation_checkpoint_identical_at_depth(spark):
    """The lazy localCheckpoint cadence must not change what
    label_propagation computes — 8 rounds with and without truncation
    produce identical label tables (and 3 rounds never checkpoint, so
    the registry query's plan is untouched)."""
    from mergermetrics_lakehouse_pipeline_spark.operators.graph import (
        label_propagation,
    )

    raw = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (5, 1), (4, 10)]
    sym = raw + [(b, a) for a, b in raw]
    edges = spark.createDataFrame(sym, "src long, dst long")
    base = sorted(
        (r.node, r.label)
        for r in label_propagation(edges, 8, checkpoint_every=0).collect()
    )
    ck = sorted(
        (r.node, r.label)
        for r in label_propagation(edges, 8, checkpoint_every=3).collect()
    )
    assert base == ck


def test_measured_salt_tracks_skew(spark):
    """salt='auto' must derive from the MEASURED distribution: a
    uniform key measures 1 (don't salt), a hot key owning most rows
    measures high, and the auto-salted join equals the plain join."""
    from mergermetrics_lakehouse_pipeline_spark.operators.skew import (
        measured_salt,
        salted_join,
    )

    uniform = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    assert measured_salt(uniform, ["k"], target_parts=32) == 1

    hot = spark.range(1000).select(
        F.when(F.col("id") < 900, 0).otherwise(F.col("id")).alias("k"),
        (F.col("id") % 7).alias("v"),
    )
    s = measured_salt(hot, ["k"], target_parts=32)
    assert s > 8, s  # 90% share * 32 * 4 -> capped high

    dim = spark.createDataFrame(
        [(0, "hot"), (901, "cold")], "k long, name string"
    )
    got = salted_join(hot, dim, on="k", how="inner", salt="auto")
    plain = hot.join(dim, "k", "inner")
    assert sorted((r.k, r.v, r.name) for r in got.collect()) == sorted(
        (r.k, r.v, r.name) for r in plain.collect()
    )


def test_synth_source_arrow_batches_match_rows(spark):
    """The Arrow-batched synth_events reader must produce exactly the
    rows the tuple path produced (same md5 closed form, same types)."""
    from mergermetrics_lakehouse_pipeline_spark.sources.pydatasource import (
        register_synth_source,
        synth_row,
    )

    register_synth_source(spark)
    got = sorted(
        spark.read.format("synth_events")
        .option("numpartitions", "3")
        .option("rowsperpartition", "7")
        .load()
        .collect(),
        key=lambda r: r.event_id,
    )
    assert len(got) == 21
    for r in got:
        eid, ts, uid, etype, val = synth_row(r.event_id)
        assert (r.event_id, r.user_id, r.event_type) == (eid, uid, etype)
        assert r.value == pytest.approx(val)
        assert r.ts.replace(tzinfo=None) == ts
