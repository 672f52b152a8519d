"""Structured Streaming over the protocol Delta log, via the Spark 4
Python DataSource API.

``stream_commit_batches`` / ``stream_cdf_batches`` (sources/delta_log.py)
are driver-side generators; this module makes the same commit-log
semantics a REAL Spark source::

    spark.dataSource.register(DeltaLogDataSource)
    spark.readStream.format("delta_pylog").option("path", tbl).load()

so the engine's Delta tables plug into checkpointed Structured
Streaming pipelines (writeStream, foreachBatch, exactly-once sinks)
exactly as delta-spark's own source does. Offsets are commit VERSIONS:
``latestOffset`` lists the log (O(commits) metadata), ``partitions``
plans one input partition per data/cdc file of the replayed commits,
and ``read`` executes on EXECUTORS, decoding parquet via pyarrow and
yielding Arrow record batches (the vectorized path of the Python
DataSource API — rows never materialize as Python objects). Replaying a
committed offset range is exact (the log is immutable), which is what
checkpoint recovery requires from a source.

Modes:

- ``mode=append`` (default): each batch = rows ADDED by a commit's
  dataChange files; OPTIMIZE commits yield nothing; a commit with
  dataChange removes fails loudly (the append-only source contract).
- ``mode=cdf``: each batch = the commit's row-level changes with
  ``_change_type`` / ``_commit_version`` — cdc files where present,
  derived insert/delete sets where the protocol allows (pure appends;
  full overwrite), an error otherwise. Streams over DML'd tables.

Batch reads (``spark.read.format("delta_pylog")``) scan the current
snapshot through the same partition planner, including deletion-vector
row subtraction (indices dropped executor-side before the Arrow batch
is handed to Spark).

Planning reads table state only through ``delta_log``, which needs no
SparkSession: batch reads plan the live files of
``delta_log.snapshot(None, path)`` (the engine's one log replay),
streams plan each commit's changes from ``delta_log._classify_commit``
(the same rule ``stream_commit_batches`` / ``read_cdf`` apply), and
``DataSource.schema()`` takes the schema, partition columns and
protocol check from that same snapshot, with no session round trip.
A batch plan therefore replays the log twice: once for the schema and
once for the files it plans.

Scale: planning is O(files-in-commit) driver metadata; all row work is
executor-side Arrow decoding. For maximum JVM-native throughput the
engine's ``read_delta`` path remains the primary scan (whole-stage
codegen over a plain parquet relation); this source exists for the
STREAMING integration surface, the same trade delta-spark's Python
sources make.
"""

from __future__ import annotations

import os
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from .delta_log import (
    DeltaProtocolError,
    _check_type_changes,
    _classify_commit,
    _latest_action,
    _list_versions,
    _may_intersect,
    _parse_literal,
    _schema_has_variant,
    snapshot,
    version_at_timestamp,
)
from urllib.parse import unquote

FORMAT_NAME = "delta_pylog"


# --------------------------------------------------------------------------
# Spark-free log introspection (plan-time schema)
# --------------------------------------------------------------------------


def _table_schema(table_path: str) -> tuple[StructType, list[str]]:
    """Logical schema + partition columns. Column-mapped tables
    (name/id mode) are supported (round 7): each StructField carries its
    delta.columnMapping.physicalName/id metadata, which rides into the
    executors inside the schema itself — _read_partition resolves file
    columns physically (by parquet field id first, then physical name)
    and re-emits them under logical names."""
    snap = snapshot(None, table_path)  # checks mapping mode and protocol
    schema = snap.schema
    _check_type_changes(schema)  # gate unsupported foreign widenings
    if _schema_has_variant(schema):
        # this container's pyarrow cannot open parquet footers carrying
        # the VARIANT logical type ("Thrift LogicalType that is not
        # recognized") — raise the documented gate instead of a cryptic
        # OSError mid-scan; the JVM scan path reads these tables fine
        raise DeltaProtocolError(
            "variantType tables are not readable through the python "
            "datasource (pyarrow lacks the parquet VARIANT logical "
            "type); use the JVM scan (read_delta)"
        )
    return schema, list(snap.partition_columns)


# --------------------------------------------------------------------------
# partition planning
# --------------------------------------------------------------------------


class _DeltaFilePartition(InputPartition):
    """One parquet file to decode on an executor. ``change`` is None for
    snapshot/append reads, a literal _change_type for derived CDF rows,
    and "cdc" for change files carrying their own _change_type column."""

    def __init__(
        self,
        table_path: str,
        rel: str,
        partition_values: dict[str, str],
        version: int | None,
        change: str | None,
        dv: dict | None,
        strict_ids: bool = False,
    ):
        self.table_path = table_path
        self.rel = rel
        self.partition_values = partition_values
        self.version = version
        self.change = change
        self.dv = dv
        #: id-mode tables: data files MUST carry parquet field ids —
        #: a file with none fails loudly instead of name-matching
        #: (round-7 review finding #5)
        self.strict_ids = strict_ids


def _commit_partitions(
    table_path: str, v: int, *, cdf: bool, strict_ids: bool = False
) -> list[_DeltaFilePartition]:
    """Input partitions of commit ``v``: one per file that
    ``_classify_commit`` names, tagged with its change type."""
    out = []
    for a, change in _classify_commit(table_path, v, cdf=cdf):
        rel = unquote(a["path"])
        pv = dict(a.get("partitionValues") or {})
        if not pv:
            # remove actions from older/foreign writers may omit
            # partitionValues — recover them from the hive path so
            # derived CDF delete rows keep their partition columns
            for seg in rel.split("/")[:-1]:
                if "=" in seg:
                    k, val = seg.split("=", 1)
                    pv[k] = unquote(val)
        out.append(_DeltaFilePartition(
            table_path, rel, pv, v, change, a.get("deletionVector"),
            strict_ids=strict_ids,
        ))
    return out


# --------------------------------------------------------------------------
# executor-side Arrow decode
# --------------------------------------------------------------------------


def _arrow_type(dt):
    import pyarrow as pa

    name = dt.typeName()
    return {
        "byte": pa.int8(), "short": pa.int16(), "integer": pa.int32(),
        "long": pa.int64(), "float": pa.float32(), "double": pa.float64(),
        "string": pa.string(), "boolean": pa.bool_(),
        "date": pa.date32(), "timestamp_ntz": pa.timestamp("us"),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "binary": pa.binary(),
    }.get(name)


def _coerce_partition_value(raw: str | None, dt) -> Any:
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    name = dt.typeName()
    if name in ("byte", "short", "integer", "long"):
        return int(raw)
    if name in ("float", "double"):
        return float(raw)
    if name == "boolean":
        return raw.lower() == "true"
    if name == "date":
        import datetime

        return datetime.date.fromisoformat(raw)
    if name in ("timestamp", "timestamp_ntz"):
        import datetime

        return datetime.datetime.fromisoformat(raw)
    return raw


def _read_partition(
    p: _DeltaFilePartition, schema: StructType, *, cdf: bool
) -> Iterator:
    """Decode one file into Arrow batches aligned to the logical
    schema: missing columns NULL-fill (pre-evolution files), hive
    partition values inject as constants, DV row indexes drop before
    the batch leaves the worker."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    full = os.path.join(p.table_path, p.rel)
    table = pq.read_table(full)
    if p.dv is not None:
        from .delta_dv import read_dv

        doomed = set(read_dv(p.table_path, p.dv))
        keep = [i for i in range(table.num_rows) if i not in doomed]
        table = table.take(keep)

    n = table.num_rows
    # column-mapping resolution (round 7): prefer parquet field id
    # (id-mode contract — foreign files may use arbitrary column
    # names), then the physical name, then the logical name itself
    # (unmapped tables). Partition values are keyed physically.
    by_field_id: dict[int, str] = {}
    for af in table.schema:
        fid = (af.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            by_field_id[int(fid)] = af.name
    if p.strict_ids and not by_field_id and table.num_columns:
        # id-mode contract: resolution goes through parquet field ids;
        # a data file with NONE cannot be safely name-matched
        raise DeltaProtocolError(
            f"id-mode table file {p.rel!r} carries no parquet field ids"
        )
    arrays, fields = [], []
    for f in schema.fields:
        if f.name in ("_change_type", "_commit_version"):
            continue
        at = _arrow_type(f.dataType)
        if at is None:
            raise DeltaProtocolError(
                f"type {f.dataType.simpleString()} not supported by the "
                "python source (use read_delta)"
            )
        fmd = dict(f.metadata or {})
        phys = fmd.get("delta.columnMapping.physicalName", f.name)
        fid = fmd.get("delta.columnMapping.id")
        col = None
        if fid is not None and int(fid) in by_field_id:
            col = by_field_id[int(fid)]
        elif phys in table.column_names:
            col = phys
        if col is not None:
            arrays.append(table.column(col).cast(at).combine_chunks())
        elif phys in p.partition_values:
            val = _coerce_partition_value(p.partition_values[phys], f.dataType)
            arrays.append(pa.array([val] * n, type=at))
        elif "EXISTS_DEFAULT" in fmd:
            # allowColumnDefaults: a file predating an
            # add_column(default_sql=...) reads as the folded constant,
            # not NULL — the literal rides inside the field metadata,
            # so this fill is Spark-free (delta_log._parse_literal is
            # pure python)
            val = _parse_literal(str(fmd["EXISTS_DEFAULT"]), f.dataType)
            arrays.append(pa.array([val] * n, type=at))
        else:
            arrays.append(pa.nulls(n, type=at))
        fields.append(pa.field(f.name, at))
    if cdf:
        if p.change == "cdc":
            ct = table.column("_change_type").cast(pa.string()).combine_chunks()
        else:
            ct = pa.array([p.change] * n, type=pa.string())
        arrays.append(ct)
        fields.append(pa.field("_change_type", pa.string()))
        arrays.append(pa.array([p.version] * n, type=pa.int64()))
        fields.append(pa.field("_commit_version", pa.int64()))
    batch_schema = pa.schema(fields)
    chunk_arrays = [
        a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a
        for a in arrays
    ]
    yield pa.RecordBatch.from_arrays(chunk_arrays, schema=batch_schema)


# --------------------------------------------------------------------------
# readers
# --------------------------------------------------------------------------


def _filter_bounds(filters: list[Filter]) -> dict[str, list[Any]]:
    """Fold comparison filters on TOP-LEVEL columns into per-column
    [lo, hi] interval bounds for stats pruning. Strict comparisons
    conservatively use their inclusive bound (pruning needs a superset,
    never exactness)."""
    bounds: dict[str, list[Any]] = {}

    def _merge(col: str, lo: Any, hi: Any) -> None:
        cur = bounds.setdefault(col, [None, None])
        if lo is not None and (cur[0] is None or lo > cur[0]):
            cur[0] = lo
        if hi is not None and (cur[1] is None or hi < cur[1]):
            cur[1] = hi

    for flt in filters:
        attr = getattr(flt, "attribute", None)
        if not attr or len(attr) != 1:
            continue  # nested columns have no top-level stats entry
        col = attr[0]
        if isinstance(flt, EqualTo):
            _merge(col, flt.value, flt.value)
        elif isinstance(flt, (GreaterThan, GreaterThanOrEqual)):
            _merge(col, flt.value, None)
        elif isinstance(flt, (LessThan, LessThanOrEqual)):
            _merge(col, None, flt.value)
    return bounds


def _snapshot_partitions(
    table_path: str, bounds: dict[str, list[Any]] | None = None
) -> list[_DeltaFilePartition]:
    """Current live files — the batch-read planner, over the replay
    ``delta_log.snapshot`` does (Spark-free, so it runs in the planning
    Python worker). ``bounds`` (from pushed filters) stats-prunes: a
    file whose footer min/max or partition value provably cannot
    intersect every bound is never planned, the same data-skipping
    read_delta_pruned applies. Files of an id-mode table must carry
    parquet field ids."""
    snap = snapshot(None, table_path)
    strict_ids = snap.column_mapping_mode == "id"
    return [
        _DeltaFilePartition(
            table_path,
            rel,
            dict(a.get("partitionValues") or {}),
            None,
            None,
            a.get("deletionVector"),
            strict_ids=strict_ids,
        )
        for rel, a in snap.files.items()
        if not bounds
        or all(
            _may_intersect(a, col, lo, hi)
            for col, (lo, hi) in bounds.items()
        )
    ]


class DeltaLogBatchReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        self.table_path = options["path"]
        self.schema = schema
        self._bounds: dict[str, list[Any]] = {}

    def pushFilters(self, filters):  # noqa: N802 (API name)
        """Record interval bounds for stats pruning, then hand EVERY
        filter back to Spark as residual: file skipping is a SUPERSET
        guarantee (footer min/max), so the exact row predicate must
        still run above the scan — the same contract partition pruning
        has in Spark's own file sources (VERDICT r6 next-step #5)."""
        filters = list(filters)
        # eager, not a generator: the side effect must happen even if
        # the engine never iterates the residual list
        self._bounds = _filter_bounds(filters)
        return filters

    def partitions(self):
        # stats/partitionValues are keyed PHYSICALLY under column
        # mapping; pushed filters arrive on logical names — translate
        phys = {
            f.name: dict(f.metadata or {}).get(
                "delta.columnMapping.physicalName", f.name
            )
            for f in self.schema.fields
        }
        bounds = {phys.get(c, c): b for c, b in self._bounds.items()}
        return _snapshot_partitions(self.table_path, bounds)

    def read(self, partition: _DeltaFilePartition):
        return _read_partition(partition, self.schema, cdf=False)


class DeltaLogStreamReader(DataSourceStreamReader):
    """Offset = highest commit version already processed."""

    def __init__(self, options: dict, schema: StructType):
        self.table_path = options["path"]
        self.cdf = options.get("mode", "append").lower() == "cdf"
        self.from_version = int(options.get("fromversion", 0))
        if "startingtimestamp" in options:
            # delta's startingTimestamp: first commit strictly AFTER the
            # at-or-before anchor (resolved via in-commit timestamps)
            if self.from_version:
                raise DeltaProtocolError(
                    "pass fromversion OR startingtimestamp, not both"
                )
            try:
                self.from_version = (
                    version_at_timestamp(
                        self.table_path, int(options["startingtimestamp"])
                    )
                    + 1
                )
            except ValueError:
                self.from_version = 0  # anchor predates the table
        md = _latest_action(self.table_path, "metaData") or {}
        conf = md.get("configuration") or {}
        self._strict_ids = conf.get("delta.columnMapping.mode") == "id"
        #: admission control: at most this many commits per micro-batch
        #: (0 = unbounded). The rate-limiting knob every production
        #: stream needs — a backfill over 10k commits must not become
        #: one giant batch.
        self.max_commits = int(options.get("maxcommitsperbatch", 0))
        self._cursor: int | None = None
        #: highest batch-START offset ever seen from the engine — the
        #: committed floor. After a checkpoint restart the in-memory
        #: cursor re-bases from from_version and the engine's offset
        #: may transiently regress below the real committed point;
        #: planning below this floor would RE-EMIT already-delivered
        #: commits, so partitions() clamps its lower bound to it (a
        #: retried batch re-sends the same (start, end) and is
        #: unaffected — the floor tracks starts, not ends).
        self._floor: int = self.from_version - 1
        self.schema = schema

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        return {"version": self.from_version - 1}

    def latestOffset(self) -> dict:  # noqa: N802 (API name)
        commits, checkpoints = _list_versions(self.table_path)
        latest = max(commits + list(checkpoints), default=-1)
        if not self.max_commits:
            return {"version": latest}
        base = (
            self._cursor if self._cursor is not None else self.from_version - 1
        )
        base = max(base, self._floor)
        capped = max(base, min(latest, base + self.max_commits))
        self._cursor = capped
        return {"version": capped}

    def partitions(self, start: dict, end: dict):
        self._floor = max(self._floor, int(start["version"]))
        commits, _ = _list_versions(self.table_path)
        have = set(commits)
        out: list[_DeltaFilePartition] = []
        lo = max(int(start["version"]), self._floor)
        for v in range(lo + 1, int(end["version"]) + 1):
            if v not in have:
                raise DeltaProtocolError(
                    f"commit {v} missing from the log (truncated past a "
                    "checkpoint?) — the stream cannot replay it"
                )
            out.extend(
                _commit_partitions(
                    self.table_path, v, cdf=self.cdf,
                    strict_ids=self._strict_ids,
                )
            )
        # Spark requires >= 1 partition per micro-batch; an empty
        # (optimize-only) range yields one empty marker partition
        if not out:
            out = [
                _DeltaFilePartition(
                    self.table_path, "", {}, int(end["version"]), "empty", None
                )
            ]
        return out

    def read(self, partition: _DeltaFilePartition):
        if partition.change == "empty":
            return iter(())
        return _read_partition(partition, self.schema, cdf=self.cdf)

    def commit(self, end: dict) -> None:
        pass  # the log itself is the durable source of truth


class DeltaLogDataSource(DataSource):
    """``spark.dataSource.register(DeltaLogDataSource)`` then
    ``spark.read/readStream.format("delta_pylog").option("path", t)``."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        schema, _pcols = _table_schema(self.options["path"])
        if self.options.get("mode", "append").lower() == "cdf":
            schema = StructType(schema.fields[:])
            schema = schema.add("_change_type", "string").add(
                "_commit_version", "long"
            )
        return schema

    def reader(self, schema) -> DataSourceReader:
        return DeltaLogBatchReader(self.options, schema)

    def streamReader(self, schema) -> DataSourceStreamReader:  # noqa: N802
        return DeltaLogStreamReader(self.options, schema)


def register_delta_source(spark) -> None:
    """Idempotent registration of ``delta_pylog`` on a session.

    Mirrors sources/pydatasource.py:register_synth_source: a reader that
    implements ``pushFilters`` FAILS planning outright when
    ``spark.sql.python.filterPushdown.enabled`` is false (the default),
    so a session the engine didn't build — an external harness, a user
    embedding this library — must get the runtime-settable conf HERE,
    not only via session.py's builder defaults."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(DeltaLogDataSource)
