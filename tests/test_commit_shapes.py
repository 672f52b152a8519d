"""The shape of every commit ``sources/delta_log.py`` authors, pinned.

Each writer runs once on a tiny table and its commit is normalized:
action kinds, ``commitInfo`` operation and parameters, protocol
versions and features, whether ``metaData`` keeps the previous table
id and which configuration keys it carries, and per add / remove the
``dataChange`` flag, partition values, stats presence and row-tracking
fields. Timestamps, uuids and file names are dropped; adds keep their
order (row ids are assigned in add order), everything else is compared
as a multiset. The conflict guard each writer hands to ``_commit`` is
captured by a spy and normalized the same way.

Inputs are coalesced to one partition so file counts do not depend on
the number of cores."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from mergermetrics_lakehouse_pipeline_spark.sources import delta_log as dl

_CDF = {"delta.enableChangeDataFeed": "true"}
_RT_ICT = {
    "delta.enableRowTracking": "true",
    "delta.enableInCommitTimestamps": "true",
}


@pytest.fixture()
def guards(monkeypatch):
    """Every guard handed to the put-if-absent commit, in order."""
    seen: list = []
    real = dl._commit

    def spy(table_path, actions, guard, base_version):
        seen.append(guard)
        return real(table_path, actions, guard, base_version)

    monkeypatch.setattr(dl, "_commit", spy)
    return seen


def _df(spark, lo, hi, *, p=None, extra=()):
    part = F.lit(p) if p else F.when(F.col("id") % 2 == 0, "a").otherwise("b")
    cols = [F.col("id").alias("k"), part.alias("p"), (F.col("id") * 10).alias("v")]
    cols += [F.lit(1).cast("long").alias(c) for c in extra]
    return spark.range(lo, hi).select(*cols).coalesce(1)


def _file(a):
    return (
        a.get("dataChange"),
        sorted((a.get("partitionValues") or {}).items()),
        "stats" in a,
        a.get("baseRowId"),
        a.get("defaultRowCommitVersion"),
    )


def _guard(g):
    # has_metadata is informational: no conflict rule reads it
    return {
        "blind_append": g.blind_append,
        "read_whole_table": g.read_whole_table,
        "removed": len(g.removed),
        "read_files": len(g.read_files),
        "predicate": list(g.predicate) if g.predicate else None,
        "partitions": sorted(g.partitions) if g.partitions is not None else None,
        "pcols": list(g.pcols),
        "txn_app": g.txn_app,
        "domains": sorted(g.domains),
        "stamp": g.stamp_row_commit_version,
        "ict": g.ict,
    }


def _shape(tbl, v, guard, *, src=None):
    actions = dl._parse_commit(tbl, v)
    prev_id = dl.snapshot(None, tbl, v - 1).metadata_id if v > 0 else None
    out = {
        "kinds": dict(sorted(Counter(next(iter(a)) for a in actions).items())),
        "adds": [_file(a["add"]) for a in actions if "add" in a],
        "removes": sorted(_file(a["remove"]) for a in actions if "remove" in a),
        "guard": _guard(guard),
    }
    for a in actions:
        kind, body = next(iter(a.items()))
        if kind == "commitInfo":
            out["op"] = body["operation"]
            params = dict(body.get("operationParameters") or {})
            if src is not None and params.get("source") == src:
                params["source"] = "<src>"
            out["params"] = params
        elif kind == "protocol":
            out["protocol"] = (
                body["minReaderVersion"],
                body["minWriterVersion"],
                sorted(body.get("readerFeatures") or []),
                sorted(body.get("writerFeatures") or []),
            )
        elif kind == "metaData":
            out["same_id"] = body["id"] == prev_id
            out["conf"] = sorted(body.get("configuration") or {})
        elif kind == "txn":
            out["txn"] = (body["appId"], body["version"])
        elif kind == "domainMetadata":
            out.setdefault("domains", []).append(
                (body["domain"], body["configuration"])
            )
    out.get("domains", []).sort()
    return out


def _check(tbl, guards, expected, *, first=0, src=None):
    assert len(guards) == len(expected)
    for v, g, (label, want) in zip(range(first, 99), guards, expected):
        assert (label, _shape(tbl, v, g, src=src)) == (label, want)


_PLAIN_GUARD = {
    "blind_append": False, "read_whole_table": False, "removed": 0,
    "read_files": 0, "predicate": None, "partitions": None, "pcols": [],
    "txn_app": None, "domains": [], "stamp": False, "ict": False,
}


def _g(**kw):
    return {**_PLAIN_GUARD, **kw}


_PV_A, _PV_B = [("p", "a")], [("p", "b")]
_CDF_CONF = ["delta.enableChangeDataFeed"]

PLAIN = [
    ("create", {
        "kinds": {"add": 2, "commitInfo": 1, "metaData": 1, "protocol": 1, "txn": 1},
        "adds": [(True, _PV_A, True, None, None), (True, _PV_B, True, None, None)],
        "removes": [], "guard": _g(txn_app="app"),
        "protocol": (1, 4, [], []), "same_id": False, "conf": _CDF_CONF,
        "txn": ("app", 1), "op": "WRITE", "params": {"mode": "OVERWRITE"},
    }),
    ("append", {
        "kinds": {"add": 2, "commitInfo": 1, "txn": 1},
        "adds": [(True, _PV_A, True, None, None), (True, _PV_B, True, None, None)],
        "removes": [], "guard": _g(blind_append=True, txn_app="app"),
        "txn": ("app", 2), "op": "WRITE", "params": {"mode": "APPEND"},
    }),
    ("append+evolve", {
        "kinds": {"add": 1, "commitInfo": 1, "metaData": 1},
        "adds": [(True, _PV_A, True, None, None)],
        "removes": [], "guard": _g(blind_append=True),
        "same_id": True, "conf": _CDF_CONF,
        "op": "WRITE", "params": {"mode": "APPEND"},
    }),
    ("overwrite_partitions", {
        "kinds": {"add": 1, "commitInfo": 1, "remove": 3},
        "adds": [(True, _PV_A, True, None, None)],
        "removes": [(True, _PV_A, False, None, None)] * 3,
        "guard": _g(removed=3, read_files=3, partitions=[("a",)], pcols=["p"]),
        "op": "WRITE", "params": {"mode": "OVERWRITE", "predicate": "dynamic"},
    }),
    ("delete (copy-on-write)", {
        # the survivor file lacks min/max for the all-NULL column w; its
        # stats leave out only that column
        "kinds": {"add": 1, "cdc": 1, "commitInfo": 1, "remove": 1},
        "adds": [(True, _PV_B, True, None, None)],
        "removes": [(True, _PV_B, False, None, None)],
        "guard": _g(removed=1, read_files=1, predicate=["k", 7, 7]),
        "op": "DELETE", "params": {"predicate": "k BETWEEN 7 AND 7"},
    }),
    ("update_rows", {
        "kinds": {"add": 1, "cdc": 1, "commitInfo": 1, "remove": 1},
        "adds": [(True, _PV_A, True, None, None)],
        "removes": [(True, _PV_A, False, None, None)],
        "guard": _g(read_whole_table=True, removed=1, read_files=3),
        "op": "UPDATE", "params": {"predicate": "k = 20"},
    }),
    ("merge (update)", {
        "kinds": {"add": 2, "cdc": 2, "commitInfo": 1, "remove": 2},
        "adds": [(True, _PV_A, True, None, None), (True, _PV_B, True, None, None)],
        "removes": [(True, _PV_A, False, None, None), (True, _PV_B, False, None, None)],
        "guard": _g(removed=2, read_files=2, predicate=["k", 9, 21]),
        "op": "MERGE", "params": {"predicate": "target.k = source.k"},
    }),
    ("merge (insert-only)", {
        "kinds": {"add": 2, "commitInfo": 1},
        "adds": [(True, _PV_A, True, None, None), (True, _PV_B, True, None, None)],
        "removes": [], "guard": _g(read_files=3, predicate=["k", 0, 31]),
        "op": "MERGE", "params": {"predicate": "target.k = source.k"},
    }),
    ("optimize", {
        "kinds": {"add": 2, "commitInfo": 1, "remove": 5},
        "adds": [(False, _PV_A, True, None, None), (False, _PV_B, True, None, None)],
        "removes": sorted(
            [(False, _PV_A, False, None, None)] * 2
            + [(False, _PV_B, False, None, None)] * 3
        ),
        "guard": _g(removed=5, read_files=5),
        "op": "OPTIMIZE", "params": {"zOrderBy": [], "predicate": ""},
    }),
    ("add_check_constraint", {
        "kinds": {"commitInfo": 1, "metaData": 1},
        "adds": [], "removes": [],
        "guard": _g(read_whole_table=True, read_files=2),
        "same_id": True,
        "conf": ["delta.constraints.pos", "delta.enableChangeDataFeed"],
        "op": "ADD CONSTRAINT", "params": {"name": "pos", "expr": "k >= 0"},
    }),
    ("add_column", {
        "kinds": {"commitInfo": 1, "metaData": 1},
        "adds": [], "removes": [], "guard": _g(read_whole_table=True),
        "same_id": True,
        "conf": ["delta.constraints.pos", "delta.enableChangeDataFeed"],
        "op": "ADD COLUMNS", "params": {"column": "z", "type": "bigint"},
    }),
]


def test_plain_table_commit_shapes(spark, tmp_path, guards):
    t = str(tmp_path / "t")
    dl.write_delta(_df(spark, 0, 6), t, partition_by=["p"],
                   configuration=_CDF, txn=("app", 1))
    dl.write_delta(_df(spark, 6, 10), t, mode="append", txn=("app", 2))
    dl.write_delta(_df(spark, 10, 11, p="a", extra=("w",)), t, mode="append")
    dl.overwrite_partitions_delta(
        _df(spark, 20, 21, p="a", extra=("w",)), t, partition_by=["p"]
    )
    dl.delete_delta(spark, t, "k", 7, 7)
    dl.update_rows(spark, t, "k = 20", {"v": "0"})
    src = _df(spark, 9, 22, extra=("w",)).filter("k IN (9, 20, 21)")
    dl.merge_delta(spark, t, src, "k")
    dl.merge_delta(spark, t, _df(spark, 30, 32, extra=("w",)).union(
        _df(spark, 0, 1, extra=("w",))), "k", when_matched="ignore")
    dl.optimize_delta(spark, t, target_files=1)
    dl.add_check_constraint(spark, t, "pos", "k >= 0")
    dl.add_column(spark, t, "z", "long")
    _check(t, guards, PLAIN)


# a writer-4 table re-states its legacy features when it moves to
# writer 7; a writer-7 table already lists every feature it uses, so a
# later upgrade adds only the new one
_LEGACY_W4 = ["appendOnly", "changeDataFeed", "checkConstraints",
              "generatedColumns", "invariants"]

DV_AND_REPLACE = [
    ("overwrite", {
        "kinds": {"add": 1, "commitInfo": 1, "remove": 2},
        "adds": [(True, _PV_B, True, None, None)],
        "removes": [(True, _PV_A, False, None, None)] * 2,
        "guard": _g(read_whole_table=True, removed=2, read_files=2),
        "op": "WRITE", "params": {"mode": "OVERWRITE"},
    }),
    ("restore", {
        "kinds": {"add": 2, "commitInfo": 1, "remove": 1},
        "adds": [(True, _PV_A, True, None, None)] * 2,
        "removes": [(True, _PV_B, False, None, None)],
        "guard": _g(read_whole_table=True, removed=1, read_files=1),
        "op": "RESTORE", "params": {"version": 1},
    }),
    ("upgrade protocol", {
        "kinds": {"commitInfo": 1, "protocol": 1},
        "adds": [], "removes": [], "guard": _g(),
        "protocol": (3, 7, ["vacuumProtocolCheck"],
                     sorted(_LEGACY_W4 + ["vacuumProtocolCheck"])),
        "op": "UPGRADE PROTOCOL", "params": {},
    }),
    ("delete (deletion vectors)", {
        "kinds": {"add": 1, "cdc": 1, "commitInfo": 1, "protocol": 1, "remove": 1},
        "adds": [(True, _PV_A, True, None, None)],
        "removes": [(True, _PV_A, False, None, None)],
        "guard": _g(removed=1, read_files=1, predicate=["k", 0, 0]),
        "protocol": (3, 7, ["deletionVectors", "vacuumProtocolCheck"],
                     sorted(_LEGACY_W4
                            + ["deletionVectors", "vacuumProtocolCheck"])),
        "op": "DELETE",
        "params": {"predicate": "k BETWEEN 0 AND 0", "deletionVectors": "true"},
    }),
    ("update (deletion vectors)", {
        "kinds": {"add": 2, "cdc": 1, "commitInfo": 1, "remove": 1},
        "adds": [(True, _PV_A, True, None, None)] * 2,
        "removes": [(True, _PV_A, False, None, None)],
        "guard": _g(removed=1, read_files=1, predicate=["k", 2, 2]),
        "op": "UPDATE",
        "params": {"predicate": "k BETWEEN 2 AND 2", "deletionVectors": "true"},
    }),
    ("overwrite_schema", {
        # the replaced table gets a fresh metaData id
        "kinds": {"add": 1, "commitInfo": 1, "metaData": 1, "remove": 3},
        "adds": [(True, [], True, None, None)],
        "removes": [(True, _PV_A, False, None, None)] * 3,
        "guard": _g(read_whole_table=True, removed=3, read_files=3),
        "same_id": False, "conf": _CDF_CONF,
        "op": "WRITE", "params": {"mode": "OVERWRITE", "overwriteSchema": "true"},
    }),
]

CLONE = [
    ("clone", {
        "kinds": {"add": 1, "commitInfo": 1, "metaData": 1, "protocol": 1},
        "adds": [(True, [], True, None, None)],
        "removes": [], "guard": _g(),
        "protocol": (3, 7, ["deletionVectors", "vacuumProtocolCheck"],
                     sorted(_LEGACY_W4
                            + ["deletionVectors", "vacuumProtocolCheck"])),
        "same_id": False, "conf": _CDF_CONF,
        "op": "CLONE", "params": {"source": "<src>"},
    }),
]


def test_dv_restore_replace_and_clone_commit_shapes(spark, tmp_path, guards):
    t = str(tmp_path / "t")
    dl.write_delta(_df(spark, 0, 4, p="a"), t, partition_by=["p"],
                   configuration=_CDF)
    dl.write_delta(_df(spark, 4, 6, p="a"), t, mode="append")
    del guards[:]
    dl.write_delta(_df(spark, 7, 8, p="b"), t, mode="overwrite")
    dl.restore_delta(spark, t, 1)
    dl.upgrade_protocol_vacuum_check(spark, t)
    dl.delete_delta_dv(spark, t, "k", 0, 0)
    dl.update_delta_dv(spark, t, "k", 2, 2, {"v": "1"})
    dl.write_delta(
        spark.range(3).select(F.col("id").alias("k")).coalesce(1), t,
        mode="overwrite", overwrite_schema=True, partition_by=[],
    )
    _check(t, guards, DV_AND_REPLACE, first=2)
    c = str(tmp_path / "c")
    del guards[:]
    dl.clone_delta(spark, t, c)
    _check(c, guards, CLONE, src=t)


_RT_CONF_KEYS = [
    "delta.enableInCommitTimestamps", "delta.enableRowTracking",
    "delta.rowTracking.materializedRowCommitVersionColumnName",
    "delta.rowTracking.materializedRowIdColumnName",
]
_RT_GUARD = dict(domains=["delta.rowTracking"], stamp=True, ict=True)


def _hwm(n):
    return [("delta.rowTracking", '{"rowIdHighWaterMark": %d}' % n)]


ROW_TRACKING = [
    ("create", {
        "kinds": {"add": 1, "commitInfo": 1, "domainMetadata": 1, "metaData": 1,
                  "protocol": 1},
        "adds": [(True, [], True, 0, 0)], "removes": [],
        "guard": _g(**_RT_GUARD),
        "protocol": (1, 7, [], ["appendOnly", "domainMetadata",
                                "inCommitTimestamp", "invariants", "rowTracking"]),
        "same_id": False, "conf": _RT_CONF_KEYS, "domains": _hwm(3),
        "op": "WRITE", "params": {"mode": "OVERWRITE"},
    }),
    ("append", {
        "kinds": {"add": 1, "commitInfo": 1, "domainMetadata": 1},
        "adds": [(True, [], True, 4, 1)], "removes": [],
        "guard": _g(blind_append=True, **_RT_GUARD), "domains": _hwm(6),
        "op": "WRITE", "params": {"mode": "APPEND"},
    }),
    ("optimize", {
        "kinds": {"add": 1, "commitInfo": 1, "domainMetadata": 1, "remove": 2},
        "adds": [(False, [], True, 7, 2)],
        "removes": [(False, [], False, None, None)] * 2,
        "guard": _g(removed=2, read_files=2, **_RT_GUARD), "domains": _hwm(13),
        "op": "OPTIMIZE", "params": {"zOrderBy": [], "predicate": ""},
    }),
    ("delete (deletion vectors)", {
        "kinds": {"add": 1, "commitInfo": 1, "protocol": 1, "remove": 1},
        "adds": [(True, [], True, 7, 2)],
        "removes": [(True, [], False, None, None)],
        "guard": _g(removed=1, read_files=1, predicate=["k", 0, 0], ict=True),
        "protocol": (3, 7, ["deletionVectors"],
                     ["appendOnly", "deletionVectors", "domainMetadata",
                      "inCommitTimestamp", "invariants", "rowTracking"]),
        "op": "DELETE",
        "params": {"predicate": "k BETWEEN 0 AND 0", "deletionVectors": "true"},
    }),
    ("overwrite", {
        "kinds": {"add": 1, "commitInfo": 1, "domainMetadata": 1, "remove": 1},
        "adds": [(True, [], True, 14, 4)],
        "removes": [(True, [], False, None, None)],
        "guard": _g(read_whole_table=True, removed=1, read_files=1, **_RT_GUARD),
        "domains": _hwm(15), "op": "WRITE", "params": {"mode": "OVERWRITE"},
    }),
]


def test_row_tracking_commit_shapes(spark, tmp_path, guards):
    r = str(tmp_path / "r")
    plain = lambda lo, hi: _df(spark, lo, hi).drop("p")  # noqa: E731
    dl.write_delta(plain(0, 4), r, configuration=_RT_ICT)
    dl.write_delta(plain(4, 7), r, mode="append")
    dl.optimize_delta(spark, r, target_files=1)
    dl.delete_delta_dv(spark, r, "k", 0, 0)
    dl.write_delta(plain(20, 22), r, mode="overwrite")
    _check(r, guards, ROW_TRACKING)
