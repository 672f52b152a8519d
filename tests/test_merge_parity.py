"""Row-level parity pins for ``delta_log.merge_delta``.

Each case merges a fixed source into a small change-data-feed table and
pins three sha256 digests (first 16 hex digits): the table's rows after
the MERGE, the change rows ``read_cdf`` returns for the MERGE's commit,
and the commit's add / remove / cdc action counts. Rows are sorted
before hashing, so the digests do not depend on file or partition
order. The cases cover every clause combination of the copy-on-write
path (update with inserts, ignore or update with the by-source delete),
composite keys, NULL keys on either side, duplicate target keys, a
partitioned table, a name-mode column-mapped table with a renamed
column, a source that matches no target row and a table without the
change data feed. A rewrite of the MERGE plan must leave every digest
unchanged."""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

import pytest

from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
    merge_delta,
    read_cdf,
    read_delta,
    rename_column,
    write_delta,
)

_CDF = {"delta.enableChangeDataFeed": "true"}
_KV = "k bigint, v string, n double"


def _kv(lo, hi, tag="t"):
    return [(k, f"{tag}{k}", k * 1.5) for k in range(lo, hi)]


# name -> (schema, target files, source rows, keys, merge kwargs,
#          write kwargs, column to rename before the MERGE)
CASES = {
    "update_all_with_inserts": (
        _KV, [_kv(0, 10), _kv(10, 20)],
        [(3, "s3", None), (4, None, 0.5), (15, "s15", 2.0), (30, "s30", 3.0),
         (31, "s31", None)],
        ["k"], {}, {}, None,
    ),
    "composite_keys": (
        "a bigint, b string, v string",
        [[(a, b, f"t{a}{b}") for a in range(4) for b in "xy"],
         [(a, "z", f"t{a}z") for a in range(4, 6)]],
        [(1, "x", "s1x"), (2, "y", "s2y"), (9, "z", "s9z"), (1, "z", "s1z"),
         (5, "z", "s5z")],
        ["a", "b"], {}, {}, None,
    ),
    "null_keys": (
        _KV, [_kv(0, 5) + [(None, "tnull", 9.0)], _kv(5, 10)],
        [(None, "snull", 1.0), (2, "s2", 2.0), (7, "s7", None),
         (50, "s50", 5.0)],
        ["k"], {}, {}, None,
    ),
    "null_in_composite_key_by_source_delete": (
        "a bigint, b string, v string",
        [[(1, None, "t1n"), (1, "x", "t1x"), (2, "y", "t2y")],
         [(3, "x", "t3x"), (None, "x", "tnx")]],
        [(1, None, "s1n"), (1, "x", "s1x"), (None, "x", "snx"),
         (4, "w", "s4w")],
        ["a", "b"], {"when_not_matched_by_source": "delete"}, {}, None,
    ),
    "duplicate_target_keys": (
        _KV,
        [_kv(0, 8) + [(5, "t5b", 7.0), (6, "t6b", 8.0)], _kv(8, 12)],
        [(5, "s5", 0.0), (9, "s9", 1.0), (100, "s100", 2.0)],
        ["k"], {}, {}, None,
    ),
    "duplicate_target_keys_ignore_by_source_delete": (
        _KV, [_kv(0, 6) + [(2, "t2b", 0.0)], _kv(6, 9) + [(7, "t7b", 1.0)]],
        [(2, "s2", 0.0), (7, "s7", 1.0), (40, "s40", 2.0)],
        ["k"],
        {"when_matched": "ignore", "when_not_matched_by_source": "delete"},
        {}, None,
    ),
    "ignore_by_source_delete": (
        _KV, [_kv(0, 10), _kv(10, 15)],
        [(2, "s2", 0.0), (3, "s3", 1.0), (12, "s12", 4.0), (50, "s50", 2.0)],
        ["k"],
        {"when_matched": "ignore", "when_not_matched_by_source": "delete"},
        {}, None,
    ),
    "update_by_source_delete": (
        _KV, [_kv(0, 10), _kv(10, 15)],
        [(2, "s2", 0.0), (3, None, 1.0), (12, "s12", None), (50, "s50", 2.0)],
        ["k"], {"when_not_matched_by_source": "delete"}, {}, None,
    ),
    "partitioned": (
        "k bigint, p string, v string",
        [[(k, "ab"[k % 2], f"t{k}") for k in range(0, 10)],
         [(k, "ab"[k % 2], f"t{k}") for k in range(10, 20)]],
        # k=5 moves from partition b to a; k=40 lands in a new partition
        [(3, "b", "s3"), (4, "a", "s4"), (5, "a", "s5"), (40, "c", "s40")],
        ["k"], {}, {"partition_by": ["p"]}, None,
    ),
    "column_mapping_name_mode": (
        _KV, [_kv(0, 10), _kv(10, 20)],
        [(4, "s4", 1.0), (14, "s14", None), (60, "s60", 6.0)],
        ["k"], {}, {"configuration": {"delta.columnMapping.mode": "name"}},
        ("v", "label"),
    ),
    "source_matches_nothing": (
        _KV, [_kv(0, 10), _kv(10, 20)],
        [(70, "s70", 7.0), (71, "s71", None)],
        ["k"], {}, {}, None,
    ),
    "update_without_change_feed": (
        _KV, [_kv(0, 10), _kv(10, 20)],
        [(3, "s3", 3.0), (13, None, 1.0), (90, "s90", 9.0)],
        ["k"], {}, {"cdf": False}, None,
    ),
}

PINNED = {
    "update_all_with_inserts": (
        "bfff95f87573d620", "afd0133d948acdf2", "5093ac2c6097b5c5"
    ),
    "composite_keys": (
        "b7462f1216871ef6", "6df896cc991a0f72", "5093ac2c6097b5c5"
    ),
    "null_keys": (
        "a559cfa1977b95b4", "39e40a05ba2a187a", "5093ac2c6097b5c5"
    ),
    "null_in_composite_key_by_source_delete": (
        "ce2b620056400430", "c2833d6c778c1fab", "5093ac2c6097b5c5"
    ),
    "duplicate_target_keys": (
        "68126e34137a4ef9", "277fb33569818d2e", "5093ac2c6097b5c5"
    ),
    "duplicate_target_keys_ignore_by_source_delete": (
        "bbfa57ccd75a621f", "93fa9a46e76858b3", "5093ac2c6097b5c5"
    ),
    "ignore_by_source_delete": (
        "6933a1c937d8d8f5", "3415243d7fddaeb0", "5093ac2c6097b5c5"
    ),
    "update_by_source_delete": (
        "6273a706b107ebbe", "f22bff73e1d98831", "5093ac2c6097b5c5"
    ),
    "partitioned": (
        "9d1db0be55cb1d1c", "c266bed4ced05c1c", "90cbdf1feed093fc"
    ),
    "column_mapping_name_mode": (
        "e277f096617f54f2", "d523e3f304b4f994", "5093ac2c6097b5c5"
    ),
    "source_matches_nothing": (
        "1209163edc9e91a0", "d603337fb0aa4483", "16648793b5240cfb"
    ),
    "update_without_change_feed": (
        "938b83bb3e147142", "", "19e2cddbf0b0e742"
    ),
}


def _digest(items) -> str:
    text = "\n".join(sorted(repr(x) for x in items))
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _commit_counts(path: str, version: int) -> dict[str, int]:
    log = os.path.join(path, "_delta_log", f"{version:020d}.json")
    with open(log, encoding="utf-8") as fh:
        kinds = Counter(next(iter(json.loads(line))) for line in fh)
    return {k: kinds[k] for k in ("add", "remove", "cdc")}


def _run_case(spark, path, case):
    schema, files, source_rows, keys, merge_kw, write_kw, rename = case
    write_kw = dict(write_kw)
    conf = dict(_CDF) if write_kw.pop("cdf", True) else {}
    conf.update(write_kw.pop("configuration", {}))
    for i, rows in enumerate(files):
        df = spark.createDataFrame(rows, schema).coalesce(1)
        extra = {"configuration": conf, **write_kw} if i == 0 else write_kw
        write_delta(df, path, mode="overwrite" if i == 0 else "append", **extra)
    if rename:
        rename_column(spark, path, *rename)
        schema = schema.replace(f"{rename[0]} ", f"{rename[1]} ")
    source = spark.createDataFrame(source_rows, schema)
    v, _ = merge_delta(spark, path, source, keys, **merge_kw)
    table = _digest(tuple(r) for r in read_delta(spark, path).collect())
    changes = ""
    if conf.get("delta.enableChangeDataFeed"):
        cdf = read_cdf(spark, path, from_version=v, to_version=v)
        changes = _digest(
            tuple(r)
            for r in cdf.select(*source.columns, "_change_type").collect()
        )
    counts = _digest(sorted(_commit_counts(path, v).items()))
    return table, changes, counts


@pytest.mark.parametrize("name", sorted(CASES))
def test_merge_parity(spark, tmp_path, name):
    got = _run_case(spark, str(tmp_path / "t"), CASES[name])
    assert got == PINNED[name], f"{name}: {got}"
