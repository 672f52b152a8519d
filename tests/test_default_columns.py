"""Column DEFAULT values (writer-v7 feature ``allowColumnDefaults``,
delta.io PROTOCOL.md "Column Default Values"): CURRENT_DEFAULT fills
omitted columns at write, EXISTS_DEFAULT fills pre-ALTER files at read
— on both the JVM scan (read_delta) and the Spark-free python source.

Reference parity note: the reference pipeline writes tables on a
platform where column defaults are a standard writer surface
(consolidated_pipeline/1_customer_data_processing.py:50-53 writes
managed tables); the reference itself never declares one, so every
test here is extension surface."""

from __future__ import annotations

import datetime
import decimal
import json
import os

import pytest
from pyspark.sql import functions as F

from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
    DeltaProtocolError,
    _parse_literal,
    _render_literal,
    add_column,
    delete_rows,
    drop_column_default,
    read_delta,
    set_column_default,
    snapshot,
    write_delta,
)


@pytest.fixture()
def tbl(tmp_path):
    return str(tmp_path / "t")


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )


def _protocol(tbl_path):
    with open(
        os.path.join(tbl_path, "_delta_log", f"{0:020d}.json"),
        encoding="utf-8",
    ) as fh:
        for line in fh:
            a = json.loads(line)
            if "protocol" in a:
                return a["protocol"]
    raise AssertionError("no protocol action in commit 0")


def test_creation_default_fills_omitting_append(spark, tbl):
    write_delta(
        _kv(spark, 0, 5).withColumn("status", F.lit("seed")),
        tbl,
        mode="overwrite",
        column_defaults={"status": "'pending'"},
    )
    write_delta(_kv(spark, 5, 8), tbl, mode="append")  # omits status
    out = {
        r["k"]: r["status"] for r in read_delta(spark, tbl).collect()
    }
    assert all(out[k] == "seed" for k in range(5))
    assert all(out[k] == "pending" for k in range(5, 8))


def test_supplied_column_wins_over_default(spark, tbl):
    write_delta(
        _kv(spark, 0, 3).withColumn("status", F.lit("seed")),
        tbl,
        mode="overwrite",
        column_defaults={"status": "'pending'"},
    )
    write_delta(
        _kv(spark, 3, 5).withColumn("status", F.lit("explicit")),
        tbl,
        mode="append",
    )
    out = {r["k"]: r["status"] for r in read_delta(spark, tbl).collect()}
    assert out[3] == out[4] == "explicit"


def test_creation_protocol_is_writer_only_v7(spark, tbl):
    write_delta(
        _kv(spark, 0, 3).withColumn("status", F.lit("s")),
        tbl,
        mode="overwrite",
        column_defaults={"status": "'p'"},
    )
    p = _protocol(tbl)
    assert p["minWriterVersion"] == 7
    assert "allowColumnDefaults" in p["writerFeatures"]
    # writer-only: reader stays legacy, no readerFeatures key
    assert p["minReaderVersion"] == 1
    assert "readerFeatures" not in p
    # legacy capabilities restated (v7 engines honor only the list)
    assert "appendOnly" in p["writerFeatures"]


def test_set_and_drop_default_lifecycle(spark, tbl):
    write_delta(
        _kv(spark, 0, 3).withColumn("status", F.lit("seed")),
        tbl,
        mode="overwrite",
    )
    set_column_default(spark, tbl, "status", "'later'")
    snap = snapshot(spark, tbl)
    assert snap.protocol["minWriterVersion"] == 7
    assert "allowColumnDefaults" in snap.protocol["writerFeatures"]
    write_delta(_kv(spark, 3, 5), tbl, mode="append")
    out = {r["k"]: r["status"] for r in read_delta(spark, tbl).collect()}
    assert out[0] == "seed" and out[3] == out[4] == "later"
    drop_column_default(spark, tbl, "status")
    # with the default gone, an omitting write is again the ordinary
    # missing-column rejection (delta-spark's behavior without a
    # DEFAULT)
    with pytest.raises(DeltaProtocolError, match="missing existing"):
        write_delta(_kv(spark, 5, 7), tbl, mode="append")
    with pytest.raises(DeltaProtocolError, match="no DEFAULT"):
        drop_column_default(spark, tbl, "status")


def test_add_column_with_default_reads_constant_for_old_files(spark, tbl):
    write_delta(_kv(spark, 0, 4), tbl, mode="overwrite")
    add_column(spark, tbl, "score", "int", default_sql="40 + 2")
    # pre-ALTER files: the folded constant, NOT null
    out = {r["k"]: r["score"] for r in read_delta(spark, tbl).collect()}
    assert all(out[k] == 42 for k in range(4))
    # post-ALTER write with an EXPLICIT NULL stays NULL — the per-file
    # distinction EXISTS_DEFAULT exists for (coalesce would get this
    # wrong)
    write_delta(
        _kv(spark, 4, 6).withColumn(
            "score", F.when(F.col("k") == 4, 7).cast("int")
        ),
        tbl,
        mode="append",
    )
    out = {r["k"]: r["score"] for r in read_delta(spark, tbl).collect()}
    assert out[4] == 7 and out[5] is None
    assert all(out[k] == 42 for k in range(4))
    # omitting write after the ALTER uses CURRENT_DEFAULT
    write_delta(_kv(spark, 6, 8), tbl, mode="append")
    out = {r["k"]: r["score"] for r in read_delta(spark, tbl).collect()}
    assert out[6] == out[7] == 42


def test_rewrite_materializes_exists_default(spark, tbl):
    """Copy-on-write DML reads via _scan_files, so rewritten rows
    materialize the folded constant — Spark's rewrite semantics."""
    write_delta(_kv(spark, 0, 6), tbl, mode="overwrite")
    add_column(spark, tbl, "score", "bigint", default_sql="5")
    delete_rows(spark, tbl, "k >= 4")
    out = {r["k"]: r["score"] for r in read_delta(spark, tbl).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert all(v == 5 for v in out.values())


def test_pysource_fills_exists_default(spark, tbl):
    from mergermetrics_lakehouse_pipeline_spark.sources.delta_pysource import (
        DeltaLogDataSource,
    )

    spark.dataSource.register(DeltaLogDataSource)
    write_delta(_kv(spark, 0, 3), tbl, mode="overwrite")
    add_column(
        spark, tbl, "tag", "string", default_sql="upper('ok')"
    )
    write_delta(
        _kv(spark, 3, 4).withColumn("tag", F.lit(None).cast("string")),
        tbl,
        mode="append",
    )
    out = {
        r["k"]: r["tag"]
        for r in spark.read.format("delta_pylog")
        .option("path", tbl)
        .load()
        .collect()
    }
    assert out[0] == out[1] == out[2] == "OK"
    assert out[3] is None  # explicit NULL in a file that HAS the column


def test_non_string_default_types(spark, tbl):
    write_delta(_kv(spark, 0, 2), tbl, mode="overwrite")
    add_column(
        spark, tbl, "since", "date", default_sql="DATE '2020-06-01'"
    )
    add_column(
        spark, tbl, "rate", "decimal(6,2)", default_sql="1.25"
    )
    row = read_delta(spark, tbl).filter("k = 0").first()
    assert row["since"] == datetime.date(2020, 6, 1)
    assert row["rate"] == decimal.Decimal("1.25")


def test_default_validation_errors(spark, tbl):
    write_delta(_kv(spark, 0, 2), tbl, mode="overwrite")
    with pytest.raises(DeltaProtocolError, match="no such column"):
        set_column_default(spark, tbl, "nope", "'x'")
    with pytest.raises(DeltaProtocolError, match="constant-foldable"):
        set_column_default(spark, tbl, "g", "some_missing_col + 1")
    with pytest.raises(DeltaProtocolError, match="unknown columns"):
        write_delta(
            _kv(spark, 0, 2),
            str(tbl) + "2",
            mode="overwrite",
            column_defaults={"ghost": "'x'"},
        )


def test_default_rejected_on_identity_and_generated(spark, tbl):
    write_delta(
        _kv(spark, 0, 3),
        tbl,
        mode="overwrite",
        generated={"g2": "k * 2"},
    )
    with pytest.raises(DeltaProtocolError, match="identity/generated"):
        set_column_default(spark, tbl, "g2", "0")
    with pytest.raises(DeltaProtocolError, match="DEFAULT and a"):
        write_delta(
            _kv(spark, 0, 3),
            str(tbl) + "2",
            mode="overwrite",
            generated={"g2": "k * 2"},
            column_defaults={"g2": "0"},
        )


def test_literal_roundtrip():
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        DecimalType,
        DoubleType,
        LongType,
        StringType,
        TimestampType,
    )

    cases = [
        (None, StringType()),
        (True, BooleanType()),
        (False, BooleanType()),
        (42, LongType()),
        (-7, LongType()),
        (1.5, DoubleType()),
        (decimal.Decimal("12.34"), DecimalType(6, 2)),
        ("it's a 'test'", StringType()),
        ("", StringType()),
        (datetime.date(2021, 2, 3), DateType()),
        (datetime.datetime(2021, 2, 3, 4, 5, 6, 789000), TimestampType()),
    ]
    for v, dt in cases:
        assert _parse_literal(_render_literal(v, dt), dt) == v


def test_exists_default_survives_drop_default(spark, tbl):
    """DROP DEFAULT removes the INSERT default only; files predating
    the column still read as the original folded constant."""
    write_delta(_kv(spark, 0, 2), tbl, mode="overwrite")
    add_column(spark, tbl, "score", "int", default_sql="9")
    drop_column_default(spark, tbl, "score")
    out = {r["k"]: r["score"] for r in read_delta(spark, tbl).collect()}
    assert out[0] == out[1] == 9
    # and NEW writes supplying an explicit NULL keep it NULL
    write_delta(
        _kv(spark, 2, 3).withColumn("score", F.lit(None).cast("int")),
        tbl,
        mode="append",
    )
    out = {r["k"]: r["score"] for r in read_delta(spark, tbl).collect()}
    assert out[2] is None


def test_default_on_column_mapped_table(spark, tbl):
    """Defaults compose with column mapping: the fill targets the
    PHYSICAL column, metadata rides the logical field."""
    write_delta(
        _kv(spark, 0, 3),
        tbl,
        mode="overwrite",
        configuration={"delta.columnMapping.mode": "name"},
    )
    add_column(spark, tbl, "lvl", "int", default_sql="3")
    write_delta(
        _kv(spark, 3, 4).withColumn("lvl", F.lit(8)), tbl, mode="append"
    )
    out = {r["k"]: r["lvl"] for r in read_delta(spark, tbl).collect()}
    assert out[0] == out[1] == out[2] == 3 and out[3] == 8


def test_column_defaults_rejected_on_existing_table(spark, tbl):
    """Like configuration, generated and identity columns, defaults are
    declared when the table is created; a later write that passes them
    raises instead of committing without them."""
    write_delta(_kv(spark, 0, 2), tbl, mode="overwrite")
    for mode in ("append", "overwrite"):
        with pytest.raises(DeltaProtocolError, match="declared at table creation"):
            write_delta(
                _kv(spark, 2, 4), tbl, mode=mode, column_defaults={"g": "0"}
            )
    assert snapshot(spark, tbl).version == 0
