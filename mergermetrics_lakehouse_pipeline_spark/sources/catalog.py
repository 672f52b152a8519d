"""Catalog / DDL helpers (SURVEY §2.1 S3-S12, S15).

Thin wrappers so the pipelines read as declaratively as the reference's
notebooks. Catalog tables are parquet ``saveAsTable`` tables; Delta tables
are served by the engine's own transaction log (``sources/delta_log.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def table_exists(spark: SparkSession, name: str) -> bool:
    """S15: gate create-vs-merge (parity: spark.catalog.tableExists,
    1_full_load_fact.py:155)."""
    return spark.catalog.tableExists(name)


def write_table(
    df: DataFrame,
    name: str,
    mode: str = "overwrite",
    *,
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
    path: str | None = None,
) -> None:
    """S3/S4/S5: parquet table sink, with mergeSchema as the reference
    sets it on every write (e.g. 1_customer_data_processing.py:50-53).
    The reference's CDF table property (S6) belongs to Delta tables,
    which ``sources/delta_log.py`` writes.

    ``partition_by`` is the engine's scale upgrade: the reference's gold
    fact is unpartitioned (it hand-rolls month pruning); we partition by
    the period column so incremental recompute prunes physically.

    ``path`` makes the table external at that location (first write only —
    the catalog remembers it for appends), so callers can sink to scratch
    storage without touching the session warehouse dir.
    """
    writer = df.write.format("parquet").mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if path is not None:
        writer = writer.option("path", path)
    if merge_schema:
        writer = writer.option("mergeSchema", "true")
    writer.saveAsTable(name)


def overwrite_partitions(df: DataFrame, name: str) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present in
    ``df``, leaving every other partition's files untouched.

    This is the physical half of the affected-month recompute (SURVEY §4
    partition-pruning row): the reference rewrites whole tables / MERGEs
    across the full fact; a partitioned table + dynamic overwrite bounds
    the write to the months in the batch. Delta's equivalent is
    ``replaceWhere``; for parquet tables Spark's dynamic
    partitionOverwriteMode does the same partition-scoped commit.

    ``df``'s column order must match the table schema (``insertInto`` is
    positional, partition columns last).
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").insertInto(name)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def create_view(spark: SparkSession, name: str, select_sql: str) -> None:
    """S9: CREATE OR REPLACE VIEW (parity: denormalise_table_query_fmcg.txt:1)."""
    spark.sql(f"CREATE OR REPLACE VIEW {name} AS {select_sql}")


def drop_table(spark: SparkSession, name: str) -> None:
    """S10: staging cleanup (parity: 2_incremental_load_fact.py:300-306)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def copy_into(
    spark: SparkSession,
    table: str,
    source_path: str,
    select_exprs: list[str],
    *,
    file_format: str = "csv",
    header: bool = True,
) -> None:
    """S12: bulk SQL load (parity: COPY INTO,
    incremental_data_parent_company_query.txt:1-11).

    Delta exposes COPY INTO natively; the engine's portable equivalent is
    read -> cast/select -> append, which preserves the idempotent-append
    intent when callers pair it with operators.merge.insert_only.
    """
    reader = spark.read.option("header", header)
    src = reader.format(file_format).load(source_path).selectExpr(*select_exprs)
    src.write.format("parquet").mode("append").saveAsTable(table)


def staged_overwrite(spark: SparkSession, name: str, content: DataFrame) -> None:
    """Overwrite ``name`` with ``content`` via an on-disk staging table
    (the reference's own staging technique,
    2_incremental_load_fact.py:82-86): materialize the new content to a
    staging table first, then overwrite the target from that fresh scan.

    Unlike cache()+overwrite, the target truncation can never trigger a
    recompute that reads the truncated target; unlike DROP+RENAME, there
    is no window where the table location exists without catalog
    metadata. The staging name is uuid-suffixed so concurrent rewrites
    of the same table cannot drop each other's staging tables mid-write
    (they still race on the final overwrite — last writer wins, which is
    the plain-parquet ceiling; ``sources/delta_log.py`` is the
    transactional path).

    Durability: the staging table is dropped ONLY after the target
    overwrite succeeds. If the target write fails mid-overwrite (executor
    loss, disk full), the staging table is the sole surviving copy of the
    new content — deleting it in a ``finally`` would destroy exactly the
    state a recovery needs (streaming/jobs.py's foreach_batch fold relies
    on this). On failure the staging table is kept and its name attached
    to the raised error so an operator can re-run the overwrite from it.
    """
    import uuid

    tmp = f"{name}__stage_{uuid.uuid4().hex[:12]}"
    try:
        content.write.mode("overwrite").format("parquet").saveAsTable(tmp)
    except Exception:
        # staging itself failed -> target untouched, nothing worth keeping
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        raise
    try:
        spark.table(tmp).write.mode("overwrite").format("parquet").saveAsTable(name)
    except Exception as exc:
        raise RuntimeError(
            f"staged_overwrite of {name!r} failed after staging; the new "
            f"content survives in staging table {tmp!r} — re-run the "
            f"overwrite from it, then drop it"
        ) from exc
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")  # success path only
    spark.catalog.refreshTable(name)


def table_file_stats(spark: SparkSession, name: str) -> dict:
    """Data-file census for a table: count + total bytes (parquet files
    only, ignoring _SUCCESS/commit metadata). The observability half of
    compaction — a lakehouse job alerts on file count / mean size drift
    long before listing slowness hurts queries."""
    import pathlib

    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {name}")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
    )
    root = pathlib.Path(loc.removeprefix("file:"))
    files = [p for p in root.rglob("*.parquet") if p.is_file()]
    total = sum(p.stat().st_size for p in files)
    return {"n_files": len(files), "total_bytes": total, "location": str(root)}


def compact_table(
    spark: SparkSession,
    name: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> dict:
    """Small-file compaction (the parquet-table analogue of Delta
    OPTIMIZE; the reference's streaming-ingest tables accrete a file per
    micro-batch and Databricks compacts them out-of-band — an engine
    replacing that needs the maintenance op in-band).

    Rewrites the table's data into ceil(total_bytes / target) files —
    sized from the table's REAL on-disk footprint, not a row guess. For
    partitioned tables pass ``partition_by``: each partition is rewritten
    via dynamic partition overwrite, preserving partition pruning, and
    repartitioning on the partition columns keeps one writer per
    partition (no tiny per-task files re-appearing).

    Returns before/after file stats so maintenance jobs can log the win.
    Not atomic on plain parquet (an overwrite drops-then-writes) — run in
    a maintenance window; on Delta the same rewrite is a transactional
    no-op for readers.
    """
    from pyspark.sql import functions as F

    before = table_file_stats(spark, name)
    df = spark.table(name)
    n_files = max(1, -(-before["total_bytes"] // target_file_bytes))
    if partition_by:
        # one writer per partition value -> exactly one output file per
        # partition; dynamic overwrite touches only present partitions
        compacted = df.repartition(*[F.col(c) for c in partition_by])
        overwrite_partitions(compacted, name)
    else:
        # a table can't be overwritten from its own live scan — use the
        # shared staging rewrite. repartition (not coalesce) so the
        # rewrite keeps upstream read parallelism.
        staged_overwrite(spark, name, df.repartition(n_files))
    spark.catalog.refreshTable(name)
    after = table_file_stats(spark, name)
    return {"before": before, "after": after}


# ---------------------------------------------------------------------------
# Versioned tables (portable time travel)
# ---------------------------------------------------------------------------

def write_version(df: DataFrame, root: str) -> int:
    """Append an immutable snapshot version under ``root`` and return its
    number — parquet-native time travel (the capability Delta supplies
    the reference implicitly; 3_pricing_data_processing.py:167-172 leans
    on CDF/versioning).

    Layout: ``root/v=N/`` per snapshot + ``root/_latest`` pointer. A
    version directory is fully written before the pointer moves, so a
    concurrent reader of ``read_version(latest)`` never sees a partial
    snapshot; a crashed writer leaves only an unreferenced directory.
    Snapshots share nothing (full copies) — the honest cost of
    versioning without a transaction log; for sharing, Delta tables
    (``sources/delta_log.py``) are the real answer.
    """
    import os

    os.makedirs(root, exist_ok=True)
    version = latest_version(root) + 1
    df.write.mode("errorifexists").parquet(f"{root}/v={version}")
    tmp, final = f"{root}/_latest.tmp", f"{root}/_latest"
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, final)  # atomic pointer move
    return version


def latest_version(root: str) -> int:
    """Current version number, or 0 if none committed yet."""
    import os

    path = f"{root}/_latest"
    if not os.path.exists(path):
        return 0
    return int(open(path).read().strip())


def read_version(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Scan one committed snapshot (default: latest)."""
    v = latest_version(root) if version is None else version
    if v < 1:
        raise ValueError(f"no committed versions under {root}")
    return spark.read.parquet(f"{root}/v={v}")


def vacuum_versions(
    root: str, *, keep_last: int = 1, in_flight_grace_s: float = 86400.0
) -> list[int]:
    """Reclaim storage from a versioned table: drop snapshot directories
    older than the ``keep_last`` most recent committed versions, plus any
    directory NEWER than the ``_latest`` pointer (a crashed writer's
    never-committed snapshot) — but only once such a directory is older
    than ``in_flight_grace_s``. A directory above the pointer is
    indistinguishable from a LIVE writer that has written its snapshot
    but not yet moved the pointer; deleting it eagerly would destroy
    that writer's about-to-commit snapshot. The mtime grace (default
    24h) is the same heuristic Delta's VACUUM applies to uncommitted
    files. Returns the removed version numbers.

    The lakehouse VACUUM analogue for ``write_version`` tables (Delta:
    ``VACUUM ... RETAIN``): the retention floor is expressed in versions,
    not hours, because this layout has no per-file commit timestamps to
    consult. ``keep_last >= 1`` always — the latest committed snapshot is
    never eligible, so concurrent ``read_version(latest)`` readers are
    safe; readers of OLDER pinned versions must finish inside the
    retention window, the same contract Delta's VACUUM imposes.

    Driver-only filesystem metadata work (one listdir + per-dir remove):
    no Spark job, no data read — O(versions), not O(rows).
    """
    import os
    import re
    import shutil
    import time

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (latest is never vacuumed)")
    latest = latest_version(root)
    if latest < 1:
        return []
    removed: list[int] = []
    floor = latest - keep_last + 1
    now = time.time()
    for entry in sorted(os.listdir(root)):
        m = re.fullmatch(r"v=(\d+)", entry)
        if not m:
            continue
        v = int(m.group(1))
        path = os.path.join(root, entry)
        if v > latest and now - os.path.getmtime(path) < in_flight_grace_s:
            continue  # possibly a live writer's not-yet-committed snapshot
        if v < floor or v > latest:
            shutil.rmtree(path)
            removed.append(v)
    return removed
