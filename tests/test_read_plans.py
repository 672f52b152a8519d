"""What building a read plan costs on the driver: Spark jobs launched by
``registry.T`` (parquet schema inference) and py4j round trips made by
``delta_log.read_delta``. Plans are built from the Delta log and from a
memoized parquet schema, so neither grows with repeat reads or with the
width of the table; the results keep their logical shape."""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from mergermetrics_lakehouse_pipeline_spark import registry
from mergermetrics_lakehouse_pipeline_spark.sources.delta_log import (
    add_column,
    read_delta,
    rename_column,
    write_delta,
)

_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


@contextlib.contextmanager
def _jobs(spark):
    """Yields a list that holds, on exit, the ids of the Spark jobs this
    thread launched inside the block."""
    sc = spark.sparkContext
    group = f"read-plans-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, "read plan test")
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # job events reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def _round_trips(spark):
    """Yields a one-element list that counts the calling thread's calls
    through the py4j gateway client inside the block; calls that other
    threads make meanwhile are not the block's."""
    client = spark.sparkContext._gateway._gateway_client
    send, me = client.send_command, threading.get_ident()
    n = [0]

    def counting_send(*args, **kwargs):
        n[0] += threading.get_ident() == me
        return send(*args, **kwargs)

    client.send_command = counting_send
    try:
        yield n
    finally:
        del client.send_command  # back to the class method


def _copy(sf_dir, tmp_path, name):
    dst = tmp_path / "tables"
    dst.mkdir(exist_ok=True)
    shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), dst)
    return str(dst)


def test_second_read_launches_no_job(spark, sf_dir, tmp_path):
    d = _copy(sf_dir, tmp_path, "lineitem")
    with _jobs(spark) as first:
        a = registry.T(spark, d, "lineitem")
    with _jobs(spark) as second:
        b = registry.T(spark, d, "lineitem")
    assert first  # inference ran a job, so the counter sees jobs
    assert second == []
    assert b.schema == a.schema
    # a shared schema, not a shared frame: column references of the two
    # sides of a self-join stay distinct
    a, b = (x.filter("l_orderkey < 40") for x in (a, b))
    per_key = a.groupBy("l_orderkey").count().collect()
    j = a.join(b, a["l_orderkey"] == b["l_orderkey"])
    assert j.count() == sum(r["count"] ** 2 for r in per_key)


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_file_is_reinferred(spark, tmp_path, layout):
    d = str(tmp_path)
    path = os.path.join(d, "t.parquet")
    if layout == "directory":
        os.mkdir(path)
        path = os.path.join(path, "part-0.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert registry.T(spark, d, "t").columns == ["a"]
    pq.write_table(pa.table({"b": ["x", "y", "z"]}), path)
    with _jobs(spark) as jobs:
        df = registry.T(spark, d, "t")
    assert jobs
    assert df.columns == ["b"]
    assert sorted(r["b"] for r in df.collect()) == ["x", "y", "z"]


def test_inference_conf_change_forces_new_inference(spark, tmp_path):
    """The memo is keyed by the confs that shape inference: with
    nanosAsLong off, a TIMESTAMP(NANOS) column no longer infers at all,
    so a read that reused the memoized ``bigint`` schema would hide
    that."""
    path = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns", tz="UTC"))
    pq.write_table(pa.table({"ts": ts}), path)
    old = spark.conf.get(_NANOS)
    try:
        spark.conf.set(_NANOS, "true")
        assert registry.read_parquet(spark, path).dtypes == [("ts", "bigint")]
        spark.conf.set(_NANOS, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            registry.read_parquet(spark, path)
        spark.conf.set(_NANOS, "true")
        with _jobs(spark) as jobs:
            df = registry.read_parquet(spark, path)
        assert jobs == []
        assert df.collect()[0]["ts"] == 1_700_000_000_123_456_789
    finally:
        spark.conf.set(_NANOS, old)


def test_schema_memo_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(registry, "_SCHEMA_MEMO_SIZE", 2)
    monkeypatch.setattr(registry, "_schema_memo", type(registry._schema_memo)())
    for i in range(4):
        pq.write_table(pa.table({f"c{i}": [i]}), str(tmp_path / f"t{i}.parquet"))
        registry.T(spark, str(tmp_path), f"t{i}")
    assert [k[0].rsplit("/", 1)[1] for k in registry._schema_memo] == [
        "t2.parquet", "t3.parquet",
    ]


def _wide(spark, n):
    return spark.range(5).select(
        *[(F.col("id") + i).alias(f"c{i}") for i in range(n)]
    )


def _read_round_trips(spark, path):
    with _round_trips(spark) as n:
        read_delta(spark, path)
    return n[0]


def test_read_delta_round_trips_do_not_grow_with_width(spark, tmp_path):
    t20, t40 = str(tmp_path / "t20"), str(tmp_path / "t40")
    write_delta(_wide(spark, 20), t20)
    write_delta(_wide(spark, 40), t40)
    n20 = _read_round_trips(spark, t20)
    n40 = _read_round_trips(spark, t40)
    assert n20 <= 30
    assert n40 <= n20 + 2
    df = read_delta(spark, t40)
    assert df.columns == [f"c{i}" for i in range(40)]
    assert sorted(r["c39"] for r in df.collect()) == [39, 40, 41, 42, 43]


def test_mapped_and_evolved_tables_keep_logical_shape(spark, tmp_path):
    """Tables whose read is not already in logical shape: physical names
    under column mapping, a partition column the scan puts last, and a
    column added by schema evolution that old files NULL-fill."""
    mapped = str(tmp_path / "mapped")
    base = spark.range(4).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).alias("p"),
        (F.col("id") * 10).cast("int").alias("v"),
    )
    write_delta(
        base, mapped, partition_by=["p"],
        configuration={"delta.columnMapping.mode": "name"},
    )
    rename_column(spark, mapped, "v", "value")
    df = read_delta(spark, mapped)
    assert df.dtypes == [("k", "bigint"), ("p", "bigint"), ("value", "int")]
    assert sorted(map(tuple, df.collect())) == [
        (0, 0, 0), (1, 1, 10), (2, 0, 20), (3, 1, 30),
    ]

    evolved = str(tmp_path / "evolved")
    write_delta(base, evolved)
    write_delta(
        spark.range(4, 6).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).alias("p"),
            (F.col("id") * 10).cast("int").alias("v"),
            F.lit("new").alias("s"),
        ),
        evolved, mode="append",
    )
    add_column(spark, evolved, "d", "double")
    df = read_delta(spark, evolved)
    assert df.dtypes == [
        ("k", "bigint"), ("p", "bigint"), ("v", "int"), ("s", "string"),
        ("d", "double"),
    ]
    assert sorted(map(tuple, df.collect())) == [
        (0, 0, 0, None, None), (1, 1, 10, None, None), (2, 0, 20, None, None),
        (3, 1, 30, None, None), (4, 0, 40, "new", None), (5, 1, 50, "new", None),
    ]


def _cheapest_build(spark, build):
    """(fewest round trips over three calls of ``build``, its result):
    a garbage collection during one build is not the build's cost."""
    counts = []
    for _ in range(3):
        with _round_trips(spark) as n:
            out = build()
        counts.append(n[0])
    return min(counts), out


def test_wav_container_header_bytes_and_round_trips(spark):
    """The RIFF header's constant fields are one literal, so building
    the expression costs a few hundred py4j round trips, not one Column
    per byte, and the bytes are those of ``struct.pack``."""
    import struct

    from mergermetrics_lakehouse_pipeline_spark.operators.multimodal import (
        wav_container,
    )

    n, expr = _cheapest_build(spark, lambda: wav_container(F.col("content")))
    assert n <= 300
    payloads = [b"", b"a", b"\x00\xff" * 3, bytes(range(256)) * 5]
    df = spark.createDataFrame([(p,) for p in payloads], "content binary")
    got = [bytes(r[0]) for r in df.select(expr).collect()]
    want = [
        b"RIFF" + struct.pack("<I", len(p) + 36) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(p)) + p
        for p in payloads
    ]
    assert got == want


def test_cosine_topk_round_trips(spark):
    """``cosine_topk`` builds its norms and dot product from one SQL
    string per expression, not from Columns and lambdas built through
    py4j one call at a time."""
    from mergermetrics_lakehouse_pipeline_spark.operators.similarity import (
        cosine_topk,
    )

    rows = [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(12)]
    vecs = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    queries = vecs.filter("vec_id < 3")
    n, top = _cheapest_build(spark, lambda: cosine_topk(vecs, queries, k=2))
    assert n <= 520

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    want = []
    for q, qv in rows[:3]:
        sims = sorted((-cos(qv, v), i) for i, v in rows if i != q)
        want += [(q, i, round(-s, 6), r) for r, (s, i) in enumerate(sims[:2], 1)]
    got = [tuple(r) for r in top.orderBy("query_id", "rank").collect()]
    assert [g[:2] + g[3:] for g in got] == [w[:2] + w[3:] for w in want]
    assert [g[2] for g in got] == pytest.approx([w[2] for w in want], abs=1e-6)
