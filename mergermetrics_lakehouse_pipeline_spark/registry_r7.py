"""Round-7 surface: column-mapping WRITE + metadata-only ALTER COLUMN
roundtrips, AS OF TIMESTAMP time travel, executor-side deletion-vector
DML at query grain, checkpoint tombstone replay, pushed-filter pruning
through the Python DataSource, a CDF-driven SCD2 apply, concurrent
MERGE rebase — plus new exact analytics (interarrival profiles,
weighted medians, winsorized means, KS drift, exact-integer CUSUM
changepoints, hapax ratios, in-flight inventory, contingency
deviations, repurchase hazards).

Determinism discipline (project-wide): exact BIGINT/DECIMAL evidence
masses with at most one trailing double division per output column;
window orders are total (explicit tiebreak keys); dates surface as ISO
strings. Every row has a DuckDB oracle.

Parity note: the reference's platform (modern Databricks) enables
column mapping by default and its notebooks lean on MERGE + time travel
(1_customer_data_processing.py, 3_merger_integration.py); the delta
rows here prove the same commands on this engine's own log.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading

from .scratch import scratch_dir
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import T, dsum, register, sql_dsum

# ---------------------------------------------------------------------------
# Delta surface (round-7 engine features)
# ---------------------------------------------------------------------------


@register(
    "delta_column_mapping_write_roundtrip",
    f"""
    WITH renamed AS (
      SELECT s_suppkey, s_nationkey, CAST(s_acctbal AS DOUBLE) AS balance
      FROM supplier
    )
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_sup,
           {sql_dsum("balance", "bal_mass")},
           CAST(0 AS BIGINT) AS n_grade
    FROM renamed GROUP BY 1
    """,
    tags=["S6", "delta", "column-mapping", "alter", "roundtrip"],
)
def q_delta_column_mapping_write_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Column-mapping WRITE path + metadata-only ALTER COLUMN (VERDICT
    r6 next-step #1): create a table with delta.columnMapping.mode=name
    (data files carry physical ``col-<uuid>`` parquet columns; stats and
    partitionValues keys are physical), append, RENAME COLUMN (pure
    metaData commit — zero data files touched, the field keeps its
    physical name so every existing file stays valid), append again
    under the new logical name, DROP COLUMN (metadata-only; the physical
    column is simply never projected again), and ADD COLUMN (NULL-filled
    on old files). The final aggregate must equal the oracle's
    recomputation from the pristine supplier table — a rename that
    orphaned the physical column would NULL half the balances, a drop
    that reused the column id would resurrect dropped values.

    Scale: rename/drop/add are single-JSON-commit metadata ops — THE
    reason column mapping exists (a rename on a 100 TB table moves no
    data); appends pay only their own distributed write."""
    from .sources.delta_log import (
        add_column,
        drop_column,
        read_delta,
        rename_column,
        snapshot,
        write_delta,
    )

    root = scratch_dir(prefix="mm_dcmw_rt_") + "/supplier_cm"
    sup = T(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    write_delta(
        sup.filter("s_suppkey % 2 = 0"),
        root,
        configuration={"delta.columnMapping.mode": "name"},
    )  # v0: mapped create
    files_v0 = set(snapshot(spark, root).files)
    rename_column(spark, root, "s_acctbal", "balance")  # v1: metadata-only
    snap = snapshot(spark, root)
    if set(snap.files) != files_v0:
        raise RuntimeError("RENAME COLUMN touched data files")
    if not snap.physical("balance").startswith("col-"):
        raise RuntimeError("logical column lost its physical mapping")
    write_delta(
        sup.filter("s_suppkey % 2 = 1").withColumnRenamed("s_acctbal", "balance"),
        root,
        mode="append",
    )  # v2: append under the NEW logical name -> SAME physical column
    drop_column(spark, root, "s_name")  # v3: metadata-only
    add_column(spark, root, "grade", "string")  # v4: NULL-filled
    out = read_delta(spark, root)
    if out.columns != ["s_suppkey", "s_nationkey", "balance", "grade"]:
        raise RuntimeError(f"unexpected logical schema {out.columns}")
    return out.groupBy("s_nationkey").agg(
        F.count("*").cast("bigint").alias("n_sup"),
        dsum("balance", "bal_mass"),
        F.sum(F.when(F.col("grade").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_grade"),
    )


@register(
    "delta_timestamp_travel",
    f"""
    WITH v1 AS (
      SELECT o_orderstatus, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 3 IN (0, 1)
    ), latest AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_latest FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_asof,
           {sql_dsum("price", "price_mass")},
           latest.n_latest
    FROM v1 CROSS JOIN latest
    GROUP BY 1, latest.n_latest
    """,
    tags=["S6", "delta", "time-travel", "timestamp", "roundtrip"],
)
def q_delta_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS OF TIMESTAMP time travel (round 7): three commits land with
    strictly monotonic in-commit timestamps (_clamp_commit_ts — a
    wall-clock that stands still or runs backwards between commits still
    yields a well-ordered history); reading at the EXACT timestamp of v1
    must yield the v1 snapshot (latest commit at-or-before), and reading
    at v1's timestamp minus 1 ms must yield v0. The scalar n_latest
    pins the head snapshot alongside. The reference's notebooks use
    ``VERSION AS OF``/``TIMESTAMP AS OF`` for audit reads
    (3_merger_integration.py).

    Scale: timestamp resolution is a driver-side binary scan of
    commitInfo lines — O(commits) metadata, zero data reads."""
    from .sources.delta_log import read_delta, version_at_timestamp, write_delta

    root = scratch_dir(prefix="mm_dts_rt_") + "/orders_ts"
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").cast("double").alias("price")
    )
    write_delta(o.filter("o_orderkey % 3 = 0"), root, mode="overwrite")  # v0
    write_delta(o.filter("o_orderkey % 3 = 1"), root, mode="append")  # v1
    write_delta(o.filter("o_orderkey % 3 = 2"), root, mode="append")  # v2

    def _commit_ts(v: int) -> int:
        path = os.path.join(root, "_delta_log", f"{v:020d}.json")
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                a = json.loads(line)
                if "commitInfo" in a:
                    return int(a["commitInfo"]["timestamp"])
        raise RuntimeError(f"no commitInfo in version {v}")

    ts0, ts1, ts2 = (_commit_ts(v) for v in (0, 1, 2))
    if not ts0 < ts1 < ts2:
        raise RuntimeError(f"commit timestamps not monotonic: {ts0},{ts1},{ts2}")
    if version_at_timestamp(root, ts1) != 1:
        raise RuntimeError("AS OF at v1's exact timestamp must resolve to v1")
    if version_at_timestamp(root, ts1 - 1) != 0:
        raise RuntimeError("AS OF just before v1 must resolve to v0")
    asof = read_delta(spark, root, timestamp_ms=ts1)
    n_latest = read_delta(spark, root).count()
    return (
        asof.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_asof"),
            dsum("price", "price_mass"),
        )
        .crossJoin(
            F.broadcast(
                spark.range(1).select(F.lit(n_latest).cast("bigint").alias("n_latest"))
            )
        )
    )


@register(
    "delta_dv_executor_delete",
    f"""
    WITH survivors AS (
      SELECT l_returnflag, l_quantity, l_extendedprice
      FROM lineitem
      WHERE NOT (l_orderkey BETWEEN 100 AND 600)
        AND NOT (l_orderkey BETWEEN 400 AND 900)
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_mass,
           {sql_dsum("l_extendedprice", "price_mass")}
    FROM survivors GROUP BY 1
    """,
    tags=["S6", "delta", "deletion-vectors", "merge-on-read", "roundtrip"],
)
def q_delta_dv_executor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via executor-built deletion vectors (VERDICT
    r6 next-step #2): two overlapping range deletes mark rows in
    per-file Roaring bitmaps built by a DISTRIBUTED aggregation (groupBy
    file -> serialize bitmap; the driver collects O(files) blobs, never
    (file, row_index) pairs — the engine's last O(data-subset) driver
    path is gone). ZERO data files are rewritten (asserted on the file
    set); the second delete must UNION into existing DVs, and the scan
    subtracts marked rows executor-side. The oracle recomputes the
    survivor aggregate relationally.

    Scale: a 1%-of-100-TB DELETE peaks the driver at the serialized
    bitmap blobs — the same objects any DV writer must hold to author
    the side files."""
    from .sources.delta_log import delete_delta_dv, read_delta, snapshot, write_delta

    root = scratch_dir(prefix="mm_ddvx_rt_") + "/lineitem_dv"
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    write_delta(li.repartition(8), root, mode="overwrite")  # v0
    files_v0 = set(snapshot(spark, root).files)
    _v, n1 = delete_delta_dv(spark, root, "l_orderkey", 100, 600)
    _v, n2 = delete_delta_dv(spark, root, "l_orderkey", 400, 900)  # overlaps
    if n1 < 1 or n2 < 1:
        raise RuntimeError("expected at least one DV per delete")
    snap = snapshot(spark, root)
    if set(snap.files) != files_v0:
        raise RuntimeError("DV delete must not rewrite data files")
    if not any(a.get("deletionVector") for a in snap.files.values()):
        raise RuntimeError("no deletionVector descriptors after DV delete")
    return (
        read_delta(spark, root)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty_mass"),
            dsum("l_extendedprice", "price_mass"),
        )
    )


@register(
    "delta_checkpoint_tombstone_replay",
    f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum("o_totalprice", "price_mass")}
    FROM orders
    WHERE o_orderkey % 5 <> 0
    GROUP BY 1
    """,
    tags=["S6", "delta", "checkpoint", "tombstones", "roundtrip"],
)
def q_delta_checkpoint_tombstone_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Checkpoint remove tombstones (ADVICE r6 #3): per the protocol a
    checkpoint carries unexpired remove actions. An overwrite tombstones
    v0's files; the checkpoint must persist those tombstones; after
    truncate_log the JSON commits are GONE and the snapshot replays from
    the checkpoint alone — live files exact (the aggregate below) AND
    tombstones intact (asserted: the replayed tombstone set equals v0's
    file set — a foreign engine reading only this checkpoint keeps its
    VACUUM bookkeeping). Writes continue on top of the truncated log.

    Scale: tombstones add O(removed files) checkpoint rows, aging out
    after the protocol's 7-day retention."""
    from .sources.delta_log import (
        delete_rows,
        read_delta,
        snapshot,
        truncate_log,
        write_checkpoint,
        write_delta,
    )

    root = scratch_dir(prefix="mm_dtomb_rt_") + "/orders_ckpt"
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_totalprice").cast("double")
    )
    write_delta(o.repartition(6), root, mode="overwrite")  # v0
    files_v0 = set(snapshot(spark, root).files)
    delete_rows(spark, root, "o_orderkey % 5 = 0")  # v1: rewrites -> tombstones
    removed = files_v0 - set(snapshot(spark, root).files)
    if not removed:
        raise RuntimeError("DELETE rewrote nothing — fixture broken")
    write_checkpoint(spark, root)
    if not truncate_log(root):
        raise RuntimeError("truncate_log removed no commits")
    snap = snapshot(spark, root)  # replays from the checkpoint ALONE
    if not removed <= set(snap.tombstones):
        raise RuntimeError("checkpoint lost remove tombstones")
    return (
        read_delta(spark, root)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            dsum("o_totalprice", "price_mass"),
        )
    )


@register(
    "delta_pysource_pruned_batch",
    f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum("o_totalprice", "price_mass")}
    FROM orders
    WHERE CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT) >= 19970101
    GROUP BY 1
    """,
    tags=["S6", "delta", "python-datasource", "pushdown", "roundtrip"],
)
def q_delta_pysource_pruned_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown through the Spark 4 Python DataSource (VERDICT r6
    next-step #5): the ``delta_pylog`` batch reader's pushFilters folds
    comparison filters into per-column interval bounds and stats-prunes
    files whose footer min/max provably cannot match — the planner skips
    them entirely (asserted below: strictly fewer planned partitions
    under the predicate than without it). Every filter is returned as
    residual, so results stay EXACT — file skipping is a superset
    guarantee, the same contract Spark's own file sources have.

    Scale: pruning is O(files) driver-side metadata against already-held
    stats; skipped files are never opened by any executor."""
    from .sources.delta_log import write_delta
    from .sources.delta_pysource import (
        DeltaLogBatchReader,
        _table_schema,
        register_delta_source,
    )

    root = scratch_dir(prefix="mm_dpsp_rt_") + "/orders_pylog"
    # pruning key: o_orderdate as yyyymmdd BIGINT — the ORDER DATE span
    # (1992-1998) is scale-factor-invariant, so a >= 1997 cut always
    # prunes most of the 6 range files regardless of sf
    o = T(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyyMMdd").cast("bigint").alias("o_datenum"),
        "o_orderstatus",
        F.col("o_totalprice").cast("double"),
    )
    write_delta(o.repartitionByRange(6, "o_datenum"), root, mode="overwrite")

    from pyspark.sql.datasource import GreaterThanOrEqual

    schema, _ = _table_schema(root)
    probe = DeltaLogBatchReader({"path": root}, schema)
    n_all = len(probe.partitions())
    probe.pushFilters([GreaterThanOrEqual(("o_datenum",), 19970101)])
    n_pruned = len(probe.partitions())
    if not (1 <= n_pruned < n_all):
        raise RuntimeError(
            f"expected pruned plan ({n_pruned}) strictly under {n_all} files"
        )
    register_delta_source(spark)
    return (
        spark.read.format("delta_pylog")
        .option("path", root)
        .load()
        .filter("o_datenum >= 19970101")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            dsum("o_totalprice", "price_mass"),
        )
    )


@register(
    "delta_scd2_cdf_apply",
    """
    WITH base AS (
      SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey <= 600
    ), moved AS (
      SELECT c_custkey FROM base
      WHERE c_custkey % 10 = 3 AND c_mktsegment <> 'MACHINERY'
    ), gone AS (
      SELECT c_custkey FROM base WHERE c_custkey % 10 = 7
    ), hist AS (
      -- v0 rows: open unless later updated or deleted
      SELECT b.c_custkey, b.c_mktsegment, 0 AS valid_from,
             CASE WHEN m.c_custkey IS NOT NULL THEN 1
                  WHEN g.c_custkey IS NOT NULL THEN 2 END AS valid_to
      FROM base b
      LEFT JOIN moved m USING (c_custkey)
      LEFT JOIN gone g USING (c_custkey)
      UNION ALL
      -- v1 postimages: open unless deleted at v2
      SELECT m.c_custkey, 'MACHINERY', 1,
             CASE WHEN g.c_custkey IS NOT NULL THEN 2 END
      FROM moved m LEFT JOIN gone g USING (c_custkey)
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_versions,
           CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_current,
           CAST(SUM(valid_from) AS BIGINT) AS from_mass,
           CAST(SUM(COALESCE(valid_to, -1)) AS BIGINT) AS to_mass
    FROM hist GROUP BY 1
    """,
    tags=["S6", "delta", "cdf", "scd2", "ivm"],
)
def q_delta_scd2_cdf_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 maintained FROM the change feed (VERDICT r6 next-step #6
    candidate): a CDF-enabled dimension takes an UPDATE (segment fix)
    and a DELETE; read_cdf's typed change rows then DRIVE the slowly-
    changing-dimension fold — update_preimage/delete CLOSE the open
    version at the change's commit version, update_postimage/insert OPEN
    a new one. History (version count, open rows, exact valid_from/to
    masses per segment) must match the oracle's relational
    reconstruction. This is the IVM shape that matters at 100 TB: the
    SCD2 table is maintained from O(changes), never by re-scanning the
    dimension.

    Scale: the fold joins change rows (delta-bounded) against the
    open-version set on the business key — cost tracks the change
    stream."""
    from .sources.delta_log import delete_rows, read_cdf, update_rows, write_delta

    root = scratch_dir(prefix="mm_dscd2_rt_") + "/cust_scd2"
    base = (
        T(spark, sf_dir, "customer")
        .filter("c_custkey <= 600")
        .select("c_custkey", "c_mktsegment")
    )
    write_delta(
        base, root, configuration={"delta.enableChangeDataFeed": "true"}
    )  # v0
    update_rows(
        spark,
        root,
        "c_custkey % 10 = 3 AND c_mktsegment <> 'MACHINERY'",
        {"c_mktsegment": "'MACHINERY'"},
    )  # v1
    delete_rows(spark, root, "c_custkey % 10 = 7")  # v2

    # SCD2 fold: seed open versions from the v0 snapshot, then apply the
    # change stream — closes from preimages/deletes, opens from
    # postimages/inserts, each stamped with its commit version.
    hist = base.select(
        "c_custkey",
        "c_mktsegment",
        F.lit(0).cast("bigint").alias("valid_from"),
        F.lit(None).cast("bigint").alias("valid_to"),
    )
    chg = read_cdf(spark, root, from_version=1).select(
        "c_custkey", "c_mktsegment", "_change_type", "_commit_version"
    )
    closes = chg.filter(
        F.col("_change_type").isin("update_preimage", "delete")
    ).select(
        "c_custkey", F.col("_commit_version").alias("close_v")
    )
    opens = chg.filter(
        F.col("_change_type").isin("update_postimage", "insert")
    ).select(
        "c_custkey",
        "c_mktsegment",
        F.col("_commit_version").cast("bigint").alias("valid_from"),
    )
    # close the OPEN version whose span contains the change version
    closed = (
        hist.join(closes, "c_custkey", "left")
        .withColumn(
            "valid_to",
            F.when(
                F.col("close_v").isNotNull()
                & (F.col("close_v") > F.col("valid_from")),
                F.col("close_v"),
            ).otherwise(F.col("valid_to")),
        )
        .drop("close_v")
    )
    # a postimage opened at v1 can itself be closed by the v2 delete
    opened = (
        opens.join(closes, "c_custkey", "left")
        .withColumn(
            "valid_to",
            F.when(
                F.col("close_v") > F.col("valid_from"), F.col("close_v")
            ).cast("bigint"),
        )
        .drop("close_v")
    )
    scd2 = closed.unionByName(opened)
    return scd2.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_versions"),
        F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_current"),
        F.sum("valid_from").cast("bigint").alias("from_mass"),
        F.sum(F.coalesce("valid_to", F.lit(-1))).cast("bigint").alias("to_mass"),
    )


@register(
    "delta_merge_concurrent_rebase",
    """
    WITH merged AS (
      SELECT p_partkey, p_brand,
             CASE WHEN p_partkey % 2 = 0 AND p_partkey <= 1000
                       THEN CAST(-1.0 AS DOUBLE)
                  WHEN p_partkey % 2 = 1 AND p_partkey <= 1000
                       THEN CAST(-2.0 AS DOUBLE)
                  ELSE CAST(p_retailprice AS DOUBLE) END AS price
      FROM part
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS price_mass
    FROM merged GROUP BY 1
    """,
    tags=["S6", "delta", "merge", "concurrency", "roundtrip"],
)
def q_delta_merge_concurrent_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent MERGE vs MERGE (VERDICT r6 next-step #6): two threads
    MERGE disjoint key sets (even vs odd partkeys) into the SAME table
    at the same time. Whichever commit loses the put-if-absent race
    consults the conflict matrix; because both touched the same files
    (interleaved keys), the loser gets ConcurrentModificationError —
    delta-spark's answer for overlapping MERGEs — and RETRIES against
    the fresh snapshot, after which both update sets are present exactly
    once. The oracle recomputes the final state relationally; a lost
    update, a double-applied retry, or a phantom insert all flip the
    hash.

    Scale: conflict handling is O(retries) driver metadata; each retry
    re-runs only touched-file discovery, never a full-table rewrite."""
    from .sources.delta_log import ConcurrentModificationError, merge_delta, read_delta, write_delta

    root = scratch_dir(prefix="mm_dmcc_rt_") + "/part_merge"
    part = T(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", F.col("p_retailprice").cast("double").alias("price")
    )
    write_delta(part.repartition(4), root, mode="overwrite")  # v0

    def src(parity: int, price: float) -> DataFrame:
        return (
            part.filter(f"p_partkey % 2 = {parity} AND p_partkey <= 1000")
            .withColumn("price", F.lit(price))
        )

    errors: list[Exception] = []
    retried: list[int] = []

    def merger(parity: int, price: float) -> None:
        try:
            merge_delta(spark, root, src(parity, price), "p_partkey")
        except ConcurrentModificationError:
            retried.append(parity)  # the documented answer: retry fresh
            try:
                merge_delta(spark, root, src(parity, price), "p_partkey")
            except Exception as e:  # pragma: no cover - failure surface
                errors.append(e)
        except Exception as e:  # pragma: no cover - failure surface
            errors.append(e)

    threads = [
        threading.Thread(target=merger, args=(0, -1.0)),
        threading.Thread(target=merger, args=(1, -2.0)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return (
        read_delta(spark, root)
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_mass"),
        )
    )


# ---------------------------------------------------------------------------
# Round-7 analytics (exact cross-engine arithmetic; one trailing division)
# ---------------------------------------------------------------------------


@register(
    "orders_interarrival_profile",
    """
    WITH seq AS (
      SELECT o_custkey,
             date_diff('day',
               LAG(o_orderdate) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ),
               o_orderdate) AS gap
      FROM orders
    ), gaps AS (
      SELECT CASE WHEN gap <= 7 THEN 'a_week'
                  WHEN gap <= 30 THEN 'b_month'
                  WHEN gap <= 90 THEN 'c_quarter'
                  ELSE 'd_longer' END AS bucket,
             CAST(gap AS BIGINT) AS gap
      FROM seq WHERE gap IS NOT NULL
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(SUM(gap) AS BIGINT) AS day_mass,
           CAST(SUM(gap) AS DOUBLE) / COUNT(*) AS mean_gap
    FROM gaps GROUP BY 1
    """,
    tags=["analytics", "window", "interarrival"],
)
def q_orders_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order interarrival profile: LAG over a TOTAL order
    (date, then orderkey — same-day reorders get gap 0 deterministically),
    day gaps bucketed into week/month/quarter/longer with exact BIGINT
    day masses and one trailing mean division.

    Scale: one shuffle on o_custkey for the window; the bucket rollup is
    a partial-aggregating 4-group reduce."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.select(
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(w)
            ).cast("bigint").alias("gap")
        )
        .filter(F.col("gap").isNotNull())
        .select(
            F.when(F.col("gap") <= 7, "a_week")
            .when(F.col("gap") <= 30, "b_month")
            .when(F.col("gap") <= 90, "c_quarter")
            .otherwise("d_longer")
            .alias("bucket"),
            "gap",
        )
    )
    return gaps.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.sum("gap").cast("bigint").alias("day_mass"),
        (F.sum("gap").cast("double") / F.count("*")).alias("mean_gap"),
    )


@register(
    "lineitem_weighted_median",
    """
    WITH pw AS (
      SELECT l_returnflag, l_extendedprice AS price,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS w
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT l_returnflag, price, w,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n_points
      FROM pw
    )
    SELECT l_returnflag,
           CAST(MIN(price) AS DOUBLE) AS wmedian,
           CAST(MIN(tw) AS DOUBLE) AS qty_mass,
           CAST(MIN(n_points) AS BIGINT) AS n_points
    FROM cum WHERE 2 * cw >= tw GROUP BY 1
    """,
    tags=["analytics", "window", "weighted-median"],
)
def q_lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per return flag: group to
    (flag, price) first so the cumulative weight window runs over UNIQUE
    prices (RANGE-frame peer ambiguity cannot arise), keep weights in
    DECIMAL the whole way, and pick the first price whose doubled
    cumulative weight reaches the total — all comparisons exact; the
    only doubles are the surfaced copies.

    Scale: one shuffle to (flag, price) grain, one window per flag —
    no global sort, no collect."""
    li = T(spark, sf_dir, "lineitem")
    pw = li.groupBy("l_returnflag", F.col("l_extendedprice").alias("price")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("w")
    )
    wf = Window.partitionBy("l_returnflag")
    cum = pw.select(
        "l_returnflag",
        "price",
        F.sum("w").over(wf.orderBy("price")).alias("cw"),
        F.sum("w").over(wf).alias("tw"),
        F.count("*").over(wf).alias("n_points"),
    )
    return (
        cum.filter(F.lit(2) * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price").cast("double").alias("wmedian"),
            F.min("tw").cast("double").alias("qty_mass"),
            F.min("n_points").cast("bigint").alias("n_points"),
        )
    )


@register(
    "supplier_acctbal_winsorized",
    """
    WITH ranked AS (
      SELECT s_nationkey, s_acctbal,
             ROW_NUMBER() OVER (
               PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
             ) AS rn,
             COUNT(*) OVER (PARTITION BY s_nationkey) AS n
      FROM supplier
    ), cuts AS (
      SELECT s_nationkey,
             MIN(CASE WHEN rn = (n + 19) // 20 THEN s_acctbal END) AS p05,
             MIN(CASE WHEN rn = (19 * n + 19) // 20 THEN s_acctbal END) AS p95,
             CAST(MIN(n) AS BIGINT) AS n_sup
      FROM ranked GROUP BY 1
    )
    SELECT r.s_nationkey, c.n_sup,
           CAST(c.p05 AS DOUBLE) AS p05,
           CAST(c.p95 AS DOUBLE) AS p95,
           CAST(SUM(CAST(
             CASE WHEN r.s_acctbal < c.p05 THEN c.p05
                  WHEN r.s_acctbal > c.p95 THEN c.p95
                  ELSE r.s_acctbal END AS DECIMAL(18,2))) AS DOUBLE)
             / c.n_sup AS wins_mean
    FROM ranked r JOIN cuts c USING (s_nationkey)
    GROUP BY 1, 2, c.p05, c.p95
    """,
    tags=["analytics", "robust-stats", "winsorize"],
)
def q_supplier_acctbal_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean account balance per nation: the 5th/95th
    percentile cut points come from exact rank positions (ceil(n/20) and
    ceil(19n/20) over a totally-ordered ranking — value ties cannot
    change the chosen VALUE), balances clamp to [p05, p95], and the mean
    is an exact DECIMAL mass with one trailing division. Robust-stats
    parity for the account-balance profiling the reference's customer
    notebook does with plain AVG (1_customer_data_processing.py).

    Scale: one window shuffle on nation key + a broadcast-sized cuts
    join — no global sort."""
    sup = T(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey")
    ranked = sup.select(
        "s_nationkey",
        "s_acctbal",
        F.row_number().over(w.orderBy("s_acctbal", "s_suppkey")).alias("rn"),
        F.count("*").over(w).alias("n"),
    )
    cuts = ranked.groupBy("s_nationkey").agg(
        F.min(
            F.when(
                F.col("rn") == F.floor((F.col("n") + 19) / F.lit(20.0)),
                F.col("s_acctbal"),
            )
        ).alias("p05"),
        F.min(
            F.when(
                F.col("rn") == F.floor((19 * F.col("n") + 19) / F.lit(20.0)),
                F.col("s_acctbal"),
            )
        ).alias("p95"),
        F.min("n").cast("bigint").alias("n_sup"),
    )
    clamped = ranked.join(cuts, "s_nationkey").select(
        "s_nationkey",
        "n_sup",
        "p05",
        "p95",
        F.when(F.col("s_acctbal") < F.col("p05"), F.col("p05"))
        .when(F.col("s_acctbal") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("s_acctbal"))
        .cast("decimal(18,2)")
        .alias("clamped"),
    )
    return clamped.groupBy(
        "s_nationkey", "n_sup", F.col("p05"), F.col("p95")
    ).agg(
        (F.sum("clamped").cast("double") / F.col("n_sup")).alias("wins_mean")
    ).select(
        "s_nationkey",
        "n_sup",
        F.col("p05").cast("double").alias("p05"),
        F.col("p95").cast("double").alias("p95"),
        "wins_mean",
    )


@register(
    "events_ks_drift",
    """
    WITH pts AS (
      SELECT value,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
      FROM events
      WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ), grouped AS (
      SELECT value,
             CAST(SUM(a) AS BIGINT) AS ca, CAST(SUM(b) AS BIGINT) AS cb
      FROM pts GROUP BY 1
    ), cum AS (
      SELECT value,
             SUM(ca) OVER (ORDER BY value) AS cca,
             SUM(cb) OVER (ORDER BY value) AS ccb,
             SUM(ca) OVER () AS na,
             SUM(cb) OVER () AS nb
      FROM grouped
    ), dev AS (
      SELECT value, na, nb, abs(cca * nb - ccb * na) AS d FROM cum
    ), best AS (
      SELECT value, na, nb, d,
             ROW_NUMBER() OVER (ORDER BY d DESC, value ASC) AS rn
      FROM dev
    )
    SELECT CAST(na AS BIGINT) AS n_click,
           CAST(nb AS BIGINT) AS n_purchase,
           CAST(d AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
             AS ks_stat,
           CAST(value AS DOUBLE) AS ks_at
    FROM best WHERE rn = 1
    """,
    tags=["analytics", "drift", "ks-test"],
)
def q_events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the click
    and purchase value distributions: cumulative counts over the UNION
    of observed values (grouped first, so peers collapse and the
    RANGE-frame window is unambiguous), the sup-distance kept as the
    exact integer |cca*nb - ccb*na| until ONE final division, argmax
    tie-broken to the smallest value. The distribution-drift gate a
    training-data pipeline runs between snapshots — complements the
    total-variation drift row (docs_source_tv_drift) with the
    order-sensitive statistic.

    Scale: one shuffle to value grain, one ordered window; no collect
    and no all-pairs anything."""
    ev = T(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    )
    grouped = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    w_all = Window.partitionBy()
    cum = grouped.select(
        "value",
        F.sum("ca").over(w_all.orderBy("value")).alias("cca"),
        F.sum("cb").over(w_all.orderBy("value")).alias("ccb"),
        F.sum("ca").over(w_all).alias("na"),
        F.sum("cb").over(w_all).alias("nb"),
    )
    dev = cum.select(
        "value",
        "na",
        "nb",
        F.abs(F.col("cca") * F.col("nb") - F.col("ccb") * F.col("na")).alias("d"),
    )
    best = dev.withColumn(
        "rn",
        F.row_number().over(w_all.orderBy(F.col("d").desc(), F.col("value").asc())),
    ).filter(F.col("rn") == 1)
    return best.select(
        F.col("na").cast("bigint").alias("n_click"),
        F.col("nb").cast("bigint").alias("n_purchase"),
        (
            F.col("d").cast("double")
            / (F.col("na").cast("double") * F.col("nb").cast("double"))
        ).alias("ks_stat"),
        F.col("value").cast("double").alias("ks_at"),
    )


@register(
    "orders_cusum_changepoint",
    """
    WITH daily AS (
      SELECT o_orderdate AS day, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ), seq AS (
      SELECT day, cnt,
             ROW_NUMBER() OVER (ORDER BY day) AS t,
             SUM(cnt) OVER (ORDER BY day) AS prefix,
             COUNT(*) OVER () AS n_days,
             SUM(cnt) OVER () AS total
      FROM daily
    ), dev AS (
      SELECT strftime(day, '%Y-%m-%d') AS day,
             CAST(n_days * prefix - t * total AS BIGINT) AS dev,
             CAST(prefix AS BIGINT) AS prefix,
             CAST(t AS BIGINT) AS t,
             ROW_NUMBER() OVER (
               ORDER BY abs(n_days * prefix - t * total) DESC, day ASC
             ) AS rn
      FROM seq
    )
    SELECT day, dev, prefix, t FROM dev WHERE rn <= 5
    """,
    tags=["analytics", "changepoint", "cusum"],
)
def q_orders_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over the daily order-count series in
    EXACT integer arithmetic: the classical cumulative deviation
    sum_{i<=t}(x_i - mean) rescaled by n_days to dev_t = n*prefix_t -
    t*total (identical argmax, zero floating point). The top-5 |dev|
    days localize the strongest level shift; ties break on the day.

    Scale: day-grain rollup first (orders/365 per group), then one
    ordered window over ~2,500 rows regardless of sf; magnitudes stay
    under 2^63 past 10^14 orders."""
    o = T(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    w_all = Window.partitionBy()
    seq = daily.select(
        "day",
        F.row_number().over(w_all.orderBy("day")).alias("t"),
        F.sum("cnt").over(w_all.orderBy("day")).alias("prefix"),
        F.count("*").over(w_all).alias("n_days"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    dev = seq.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("n_days") * F.col("prefix") - F.col("t") * F.col("total"))
        .cast("bigint")
        .alias("dev"),
        F.col("prefix").cast("bigint").alias("prefix"),
        F.col("t").cast("bigint").alias("t"),
    )
    return (
        dev.withColumn(
            "rn",
            F.row_number().over(
                w_all.orderBy(F.abs(F.col("dev")).desc(), F.col("day").asc())
            ),
        )
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@register(
    "docs_hapax_ratio",
    """
    WITH tok AS (
      SELECT source,
             unnest(CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
                         ELSE regexp_split_to_array(trim(text), '\\s+') END)
               AS term
      FROM documents
    ), tc AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(SUM(cnt) AS BIGINT) AS tok_mass,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS hapax_ratio
    FROM tc GROUP BY 1
    """,
    tags=["llm", "corpus", "hapax"],
)
def q_docs_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomenon ratio per source — the share of vocabulary seen
    exactly once, the standard corpus-maturity/noise signal (a source
    whose hapax share spikes is full of typos, boilerplate IDs, or OCR
    junk; one that collapses is template spam). Tokenization is the
    engine's whitespace convention (functions/text.py:tokens), counts
    exact, one trailing division.

    Scale: explode + one shuffle to (source, term) grain with map-side
    partial aggregation; vocabulary-sized state, never corpus-sized."""
    from .functions import text as tx

    docs = T(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(tx.tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return tc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.sum("cnt").cast("bigint").alias("tok_mass"),
        (
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("hapax_ratio"),
    )


@register(
    "lineitem_inflight_peak",
    """
    WITH flow AS (
      SELECT o.o_orderdate AS day, CAST(COUNT(*) AS BIGINT) AS net
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1
      UNION ALL
      SELECT l_shipdate AS day, CAST(-COUNT(*) AS BIGINT) AS net
      FROM lineitem GROUP BY 1
    ), daily AS (
      SELECT day, CAST(SUM(net) AS BIGINT) AS net FROM flow GROUP BY 1
    ), run AS (
      SELECT strftime(day, '%Y-%m-%d') AS day,
             CAST(SUM(net) OVER (ORDER BY day) AS BIGINT) AS inflight
      FROM daily
    ), top AS (
      SELECT day, inflight,
             ROW_NUMBER() OVER (ORDER BY inflight DESC, day ASC) AS rn
      FROM run
    )
    SELECT day, inflight FROM top WHERE rn <= 10
    """,
    tags=["analytics", "gaps-islands", "inventory"],
)
def q_lineitem_inflight_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak order-fulfillment backlog: +1 at each line's ORDER date
    (join to orders), -1 at its ship date, folded to day grain, then ONE
    running total ordered by day counts lines ordered-but-not-yet-
    shipped; the top-10 backlog days surface (ties break on the day).
    The interval-stabbing problem (how many intervals cover each point)
    solved as a sweep — no interval self-join, which would be quadratic.

    Scale: one key join + two day-grain rollups + a single ~2,500-row
    ordered window, invariant in sf; the same sweep prices 10^11
    intervals."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    placed = (
        li.select("l_orderkey")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.count("*").cast("bigint").alias("net"))
    )
    shipped = li.groupBy(F.col("l_shipdate").alias("day")).agg(
        (-F.count("*")).cast("bigint").alias("net")
    )
    daily = (
        placed.unionByName(shipped)
        .groupBy("day")
        .agg(F.sum("net").cast("bigint").alias("net"))
    )
    w_all = Window.partitionBy()
    run = daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.sum("net").over(w_all.orderBy("day")).cast("bigint").alias("inflight"),
    )
    return (
        run.withColumn(
            "rn",
            F.row_number().over(
                w_all.orderBy(F.col("inflight").desc(), F.col("day").asc())
            ),
        )
        .filter(F.col("rn") <= 10)
        .drop("rn")
    )


@register(
    "customer_segment_contingency",
    """
    WITH obs AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
             CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), margins AS (
      SELECT seg, prio, n_obs,
             SUM(n_obs) OVER (PARTITION BY seg) AS rt,
             SUM(n_obs) OVER (PARTITION BY prio) AS ct,
             SUM(n_obs) OVER () AS n
      FROM obs
    ), dev AS (
      SELECT seg, prio, n_obs,
             CAST(n_obs * n - rt * ct AS BIGINT) AS dev,
             ROW_NUMBER() OVER (
               ORDER BY abs(n_obs * n - rt * ct) DESC, seg ASC, prio ASC
             ) AS rn
      FROM margins
    )
    SELECT seg, prio, n_obs, dev FROM dev WHERE rn <= 10
    """,
    tags=["analytics", "contingency", "chi-square"],
)
def q_customer_segment_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency-table deviation cells for market segment × order
    priority: the chi-square numerator kept EXACT per cell as
    dev = obs*N - rowtotal*coltotal (the sign says over/under-
    represented), ranked by |dev| — the top-10 cells are the
    association's drivers. A global chi-square would sum doubles in
    nondeterministic order; per-cell integers sidestep that while
    carrying the same information.

    Scale: one broadcast-joined rollup to the 25-cell grid, then
    window margins over the tiny grid — the N×N term stays under 2^63
    past 10^9 orders per cell."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    obs = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")), 
               o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count("*").cast("bigint").alias("n_obs"))
    )
    margins = obs.select(
        "seg",
        "prio",
        "n_obs",
        F.sum("n_obs").over(Window.partitionBy("seg")).alias("rt"),
        F.sum("n_obs").over(Window.partitionBy("prio")).alias("ct"),
        F.sum("n_obs").over(Window.partitionBy()).alias("n"),
    )
    dev = margins.select(
        "seg",
        "prio",
        "n_obs",
        (F.col("n_obs") * F.col("n") - F.col("rt") * F.col("ct"))
        .cast("bigint")
        .alias("dev"),
    )
    return (
        dev.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy().orderBy(
                    F.abs(F.col("dev")).desc(),
                    F.col("seg").asc(),
                    F.col("prio").asc(),
                )
            ),
        )
        .filter(F.col("rn") <= 10)
        .drop("rn")
    )


@register(
    "orders_repurchase_hazard",
    """
    WITH ranked AS (
      SELECT o_custkey, o_orderdate,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS rn
      FROM orders
    ), horizon AS (
      SELECT MAX(o_orderdate) AS cmax FROM orders
    ), spans AS (
      SELECT f.o_custkey,
             CASE WHEN s.o_orderdate IS NOT NULL THEN 1 ELSE 0 END AS event,
             CASE WHEN s.o_orderdate IS NOT NULL
                  THEN date_diff('day', f.o_orderdate, s.o_orderdate)
                  ELSE date_diff('day', f.o_orderdate, h.cmax) END AS t
      FROM ranked f
      LEFT JOIN ranked s ON s.o_custkey = f.o_custkey AND s.rn = 2
      CROSS JOIN horizon h
      WHERE f.rn = 1
    ), buckets AS (
      SELECT CAST(t // 90 AS BIGINT) AS bucket, event,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM spans GROUP BY 1, 2
    ), grid AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN event = 1 THEN n ELSE 0 END) AS BIGINT)
               AS n_events,
             CAST(SUM(n) AS BIGINT) AS n_exits
      FROM buckets GROUP BY 1
    ), km AS (
      SELECT bucket, n_events,
             CAST(SUM(n_exits) OVER (
               ORDER BY bucket DESC
             ) AS BIGINT) AS n_risk
      FROM grid
    )
    SELECT bucket, n_risk, n_events,
           CAST(n_events AS DOUBLE) / n_risk AS hazard
    FROM km WHERE bucket <= 6
    """,
    tags=["analytics", "survival", "hazard"],
)
def q_orders_repurchase_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete repurchase hazard (Kaplan-Meier counting form): per
    customer, time from FIRST to SECOND order — censored at the global
    horizon for one-order customers; 90-day buckets; the risk set at
    bucket b is everyone still unresolved entering it (a reverse-
    cumulative sum of exits), hazard = events / risk — integers
    everywhere, one trailing division, first 7 buckets surfaced.
    Survival mechanics the reference's churn-flavored notebooks stop
    short of.

    Scale: one window per customer + a bucket-grain reverse running sum
    over ~30 rows; no per-customer collect."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = o.select(
        "o_custkey", "o_orderdate", F.row_number().over(w).alias("rn")
    )
    # ONE pass: first/second order dates as conditional aggregates over
    # the already-partitioned window output (no self-join, no re-scan)
    pair = (
        ranked.filter("rn <= 2")
        .groupBy("o_custkey")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("o_orderdate"))).alias("d1"),
            F.min(F.when(F.col("rn") == 2, F.col("o_orderdate"))).alias("d2"),
        )
    )
    cmax = o.agg(F.max("o_orderdate").alias("cmax"))
    spans = (
        pair.crossJoin(F.broadcast(cmax))
        .select(
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("event"),
            F.when(
                F.col("d2").isNotNull(), F.datediff("d2", "d1")
            )
            .otherwise(F.datediff("cmax", "d1"))
            .alias("t"),
        )
    )
    grid = (
        spans.select(
            F.floor(F.col("t") / F.lit(90.0)).cast("bigint").alias("bucket"),
            "event",
        )
        .groupBy("bucket")
        .agg(
            F.sum("event").cast("bigint").alias("n_events"),
            F.count("*").cast("bigint").alias("n_exits"),
        )
    )
    km = grid.select(
        "bucket",
        "n_events",
        F.sum("n_exits")
        .over(Window.partitionBy().orderBy(F.col("bucket").desc()))
        .cast("bigint")
        .alias("n_risk"),
    )
    return km.filter(F.col("bucket") <= 6).select(
        "bucket",
        "n_risk",
        "n_events",
        (F.col("n_events").cast("double") / F.col("n_risk")).alias("hazard"),
    )


@register(
    "delta_column_mapping_id_roundtrip",
    """
    WITH final AS (
      SELECT p_partkey, p_brand,
             CAST(p_retailprice AS DOUBLE) AS price,
             CAST(p_size AS BIGINT) AS p_size
      FROM part WHERE NOT (p_partkey % 7 = 0)
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS price_mass,
           CAST(SUM(p_size) AS BIGINT) AS size_mass
    FROM final GROUP BY 1
    """,
    tags=["S6", "delta", "column-mapping", "id-mode", "roundtrip"],
)
def q_delta_column_mapping_id_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Column mapping ID MODE end-to-end (round 7, closing the last
    mapping gate): create with delta.columnMapping.mode=id — staged
    parquet files carry BOTH physical ``col-<uuid>`` names and
    ``parquet.field.id`` footer ids; scans resolve columns BY FIELD ID
    (Spark's fieldId.read path with an explicit physical schema), the
    id-mode contract that lets a foreign writer use arbitrary parquet
    column names. The row exercises evolve (new column, fresh id past
    maxColumnId, NULL-filled on old files via id miss), predicate
    DELETE through the id-resolved scan, and the final aggregate against
    the oracle's relational recomputation. Footer ids are asserted
    directly (a name-matching reader would pass name mode but break the
    foreign-name fixture in tests/test_column_mapping_id.py).

    Scale: id resolution is footer metadata — plan/scan costs identical
    to name mode; a missing id fails loudly, never silently NULL-fills."""
    import pyarrow.parquet as pq

    from .sources.delta_log import delete_rows, read_delta, snapshot, write_delta

    root = scratch_dir(prefix="mm_dcmi_rt_") + "/part_id"
    part = T(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", F.col("p_retailprice").cast("double").alias("price")
    )
    write_delta(
        part, root, configuration={"delta.columnMapping.mode": "id"}
    )  # v0
    # evolve: p_size joins with a fresh id; old files NULL-fill by id miss
    evolved = T(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.col("p_retailprice").cast("double").alias("price"),
        F.col("p_size").cast("bigint").alias("p_size"),
    )
    write_delta(evolved, root, mode="overwrite")  # v1 keeps ids, adds one
    snap = snapshot(spark, root)
    if snap.column_mapping_mode != "id":
        raise RuntimeError("mode lost")
    want_ids = {
        snap.physical(f.name): int(f.metadata["delta.columnMapping.id"])
        for f in snap.schema.fields
    }
    rel = next(iter(snap.files))
    sch = pq.ParquetFile(os.path.join(root, rel)).schema_arrow
    got_ids = {
        f.name: int((f.metadata or {})[b"PARQUET:field_id"]) for f in sch
    }
    if got_ids != want_ids:
        raise RuntimeError(f"footer field ids {got_ids} != schema {want_ids}")
    delete_rows(spark, root, "p_partkey % 7 = 0")  # v2 via id-resolved scan
    return (
        read_delta(spark, root)
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_mass"),
            F.sum("p_size").cast("bigint").alias("size_mass"),
        )
    )


@register(
    "delta_merge_composite_sync",
    """
    WITH base AS (
      SELECT o_orderkey // 1000 AS k1, o_orderkey % 1000 AS k2,
             o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             o_orderkey % 5 AS m
      FROM orders
    ), final AS (
      SELECT o_orderstatus, CAST(price + 9 AS DECIMAL(18,2)) AS price
      FROM base WHERE m IN (0, 1)
      UNION ALL
      SELECT o_orderstatus, price FROM base WHERE m = 2
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(price) AS DOUBLE) AS price_mass
    FROM final GROUP BY 1
    """,
    tags=["S6", "delta", "merge", "composite-key", "by-source", "roundtrip"],
)
def q_delta_merge_composite_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key MERGE with WHEN NOT MATCHED BY SOURCE DELETE
    (round 7): the target keys on (k1, k2) = (orderkey div 1000,
    orderkey mod 1000) — a two-column key that exercises composite
    semi-joins and composite duplicate detection — and the source is a
    full feed: updated rows (price + 9 where orderkey%5 in 0,1),
    brand-new rows (orderkey%5 = 2 re-keyed into a disjoint k1 space),
    so Delta's third clause deletes every target row the feed no longer
    carries (%5 in 2,3,4 at original keys). The oracle recomputes the
    synchronized state relationally — a collapsed composite join, a
    survived should-be-deleted row, or a double-applied update all flip
    the hash.

    Scale: the by-source clause is inherently a full-table rewrite
    (any file may hold unmatched rows) holding a whole-table conflict
    guard — the same cost delta-spark pays; two-clause MERGEs keep
    touched-file surgery."""
    from .sources.delta_log import merge_delta, read_delta, write_delta

    root = scratch_dir(prefix="mm_dmcs_rt_") + "/orders_sync"
    base = T(spark, sf_dir, "orders").select(
        F.floor(F.col("o_orderkey") / F.lit(1000.0)).cast("long").alias("k1"),
        (F.col("o_orderkey") % 1000).alias("k2"),
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("price"),
        (F.col("o_orderkey") % 5).alias("m"),
    )
    write_delta(base.drop("m").repartition(6), root)  # v0
    feed = (
        base.filter("m IN (0, 1)")
        .withColumn("price", F.col("price") + 9)
        .unionByName(
            base.filter("m = 2").withColumn("k1", F.col("k1") + 100000)
        )
        .drop("m")
    )
    merge_delta(
        spark, root, feed, ["k1", "k2"], when_not_matched_by_source="delete"
    )
    return (
        read_delta(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_mass"),
        )
    )


@register(
    "delta_generated_columns_roundtrip",
    """
    WITH base AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders
    ), updated AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN price + 1000.0
                  ELSE price END AS price
      FROM base
    ), final AS (
      SELECT o_orderkey, price,
             CAST(FLOOR(price / 50000.0) AS BIGINT) AS price_band
      FROM updated
    )
    SELECT price_band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS price_mass
    FROM final GROUP BY 1
    """,
    tags=["S6", "delta", "generated-columns", "roundtrip"],
)
def q_delta_generated_columns_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GENERATED ALWAYS AS columns (round 7, writer v4): the table
    declares ``price_band = FLOOR(price/50000)`` as a generated
    PARTITION column — the delta headline use (auto date/bucket
    partitions). The creating write and a later append both OMIT the
    column (computed engine-side into hive dirs); an UPDATE of the
    source column RECOMPUTES the band on exactly the matched rows
    (delta-spark's UPDATE semantics); a write supplying a WRONG explicit
    value must abort (asserted). The oracle recomputes bands
    relationally from the pristine table.

    Scale: generation is a projection folded into each write; the
    generated partition column gives the scan partition pruning for
    free on the derived key."""
    from .sources.delta_log import (
        DeltaProtocolError,
        read_delta,
        update_rows,
        write_delta,
    )

    root = scratch_dir(prefix="mm_dgen_rt_") + "/orders_gen"
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )
    write_delta(
        o.filter("o_orderkey % 2 = 0"),
        root,
        partition_by=["price_band"],
        generated={"price_band": "CAST(FLOOR(price / 50000.0) AS BIGINT)"},
    )  # v0: band computed into hive dirs
    write_delta(o.filter("o_orderkey % 2 = 1"), root, mode="append")  # v1
    update_rows(
        spark, root, "o_orderkey % 11 = 0", {"price": "price + 1000.0"}
    )  # v2: band recomputed on matched rows
    try:
        bad = o.filter("o_orderkey = 2").withColumn(
            "price_band", F.lit(-99).cast("bigint")
        )
        write_delta(bad, root, mode="append")
        raise RuntimeError("wrong explicit generated value was accepted")
    except DeltaProtocolError:
        pass
    return (
        read_delta(spark, root)
        .groupBy("price_band")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_mass"),
        )
    )


@register(
    "delta_clone_divergence",
    """
    WITH src AS (
      SELECT 'src' AS side, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_mass
      FROM customer WHERE NOT c_custkey BETWEEN 0 AND 99 GROUP BY 2
    ), cl AS (
      SELECT 'clone' AS side, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_mass
      FROM customer
      WHERE NOT c_custkey BETWEEN 0 AND 99 AND c_mktsegment <> 'BUILDING'
      GROUP BY 2
    )
    SELECT * FROM src UNION ALL SELECT * FROM cl
    """,
    tags=["S6", "delta", "clone", "history", "roundtrip"],
)
def q_delta_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE + DESCRIBE HISTORY (round 7): the source table
    takes a DV merge-on-read delete (bitmap state must survive the
    clone via absolute-path descriptors), the clone is created WITHOUT
    copying a single data file (asserted: zero parquet under the clone
    root), then the clone diverges (DELETE of a whole segment) while
    the source must remain bit-identical — zero-copy sandboxing, the
    thing shallow clone exists for. DESCRIBE HISTORY on the clone is
    asserted to read [DELETE, CLONE] newest-first with monotonic
    timestamps. The oracle recomputes both sides relationally.

    Scale: the clone is O(files) metadata regardless of table bytes."""
    from .sources.delta_log import (
        clone_delta,
        delete_delta_dv,
        delete_rows,
        describe_history,
        read_delta,
        write_delta,
    )

    base = scratch_dir(prefix="mm_dclone_rt_")
    src, dst = base + "/src", base + "/clone"
    cust = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.col("c_acctbal").cast("double")
    )
    write_delta(cust.repartition(4), src)  # v0
    delete_delta_dv(spark, src, "c_custkey", 0, 99)  # v1: DV merge-on-read

    clone_delta(spark, src, dst)
    n_data = sum(
        1
        for root, dirs, names in os.walk(dst)
        if not os.path.basename(root).startswith("_")
        for n in names
        if n.endswith(".parquet")
    )
    if n_data != 0:
        raise RuntimeError(f"shallow clone copied {n_data} data files")
    delete_rows(spark, dst, "c_mktsegment = 'BUILDING'")  # clone diverges

    hist = describe_history(spark, dst).collect()
    if [r["operation"] for r in hist] != ["DELETE", "CLONE"]:
        raise RuntimeError(f"unexpected clone history {hist}")
    if not hist[0]["timestamp"] > hist[1]["timestamp"]:
        raise RuntimeError("clone history timestamps not monotonic")

    def agg(df: DataFrame, side: str) -> DataFrame:
        return df.groupBy("c_mktsegment").agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("bal_mass"),
        ).select(F.lit(side).alias("side"), "*")

    return agg(read_delta(spark, src), "src").unionByName(
        agg(read_delta(spark, dst), "clone")
    )


@register(
    "delta_optimize_small_files",
    f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum("o_totalprice", "price_mass")}
    FROM orders GROUP BY 1
    """,
    tags=["S6", "delta", "optimize", "small-files", "roundtrip"],
)
def q_delta_optimize_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective OPTIMIZE (round 7 — delta's optimize.minFileSize): the
    table is one large compacted file plus a tail of small appended
    files; OPTIMIZE with a size threshold must compact ONLY the tail —
    the large file keeps its identity (asserted on the file set), the
    small files disappear, content is bit-identical (dataChange: false
    commit), and a second pass is a commit-free no-op. The nightly
    maintenance shape that makes OPTIMIZE affordable on a 99%-compacted
    100 TB table. Oracle: content equality against the pristine table.

    Scale: rewrite cost is O(small-file bytes), never O(table)."""
    from .sources.delta_log import optimize_delta, read_delta, snapshot, write_delta

    root = scratch_dir(prefix="mm_dopt_rt_") + "/orders_opt"
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").cast("double")
    )
    write_delta(o.filter("o_orderkey % 5 <> 0").coalesce(1), root)  # 1 big file
    for i in range(4):  # 4 small appends covering every %5==0 key
        write_delta(
            o.filter(f"o_orderkey % 20 = {i * 5}"), root, mode="append"
        )
    snap0 = snapshot(spark, root)
    sizes = {r: int(a["size"]) for r, a in snap0.files.items()}
    threshold = max(sizes.values())  # strictly-below keeps ONLY the big file
    big = {r for r, s in sizes.items() if s == threshold}
    if len(big) != 1 or len(sizes) < 5:
        raise RuntimeError(f"fixture layout unexpected: {sorted(sizes.values())}")
    optimize_delta(spark, root, target_files=1, min_file_size=threshold)
    snap1 = snapshot(spark, root)
    if not big <= set(snap1.files):
        raise RuntimeError("OPTIMIZE rewrote an already-large file")
    if set(sizes) - big & set(snap1.files):
        raise RuntimeError("OPTIMIZE left small files uncompacted")
    if len(snap1.files) != 2:
        raise RuntimeError(f"expected 2 files, got {len(snap1.files)}")
    v = snap1.version
    if optimize_delta(spark, root, min_file_size=threshold) != v:
        raise RuntimeError("second OPTIMIZE pass must be a no-op")
    return (
        read_delta(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            dsum("o_totalprice", "price_mass"),
        )
    )


@register(
    "events_value_mad_outliers",
    """
    WITH ranked AS (
      SELECT event_type, value, event_id,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    ), med AS (
      SELECT event_type,
             MIN(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med,
             CAST(MIN(n) AS BIGINT) AS n
      FROM ranked GROUP BY 1
    ), dev AS (
      SELECT r.event_type, abs(r.value - m.med) AS dev, r.event_id, m.med, m.n
      FROM ranked r JOIN med m USING (event_type)
    ), dranked AS (
      SELECT event_type, dev, med, n,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY dev, event_id
             ) AS rn
      FROM dev
    ), mad AS (
      SELECT event_type,
             MIN(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad,
             MIN(med) AS med, MIN(n) AS n
      FROM dranked GROUP BY 1
    )
    SELECT d.event_type, m.n AS n_events,
           CAST(m.med AS DOUBLE) AS med,
           CAST(m.mad AS DOUBLE) AS mad,
           CAST(SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY 1, 2, m.med, m.mad
    """,
    tags=["analytics", "robust-stats", "mad"],
)
def q_events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier detection per event type — the
    robust alternative to z-scores (one wild value cannot move the
    fences): EXACT lower medians via total-order rank positions (value
    then event_id, so ties cannot flip the chosen element), deviations
    from the median, the MAD as the deviations' median, and the
    3-MAD outlier count. No averaging, no nondeterministic double sums —
    every comparison is on per-row values.

    Scale: two rank windows per event type (one shuffle each) and a
    broadcast-sized medians join — never a global sort."""
    from .registry import events_table

    ev = events_table(spark, sf_dir).filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        "event_id",
        F.row_number().over(w.orderBy("value", "event_id")).alias("rn"),
        F.count("*").over(w).alias("n"),
    )
    med = ranked.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("rn") == F.floor((F.col("n") + 1) / F.lit(2.0)),
                F.col("value"),
            )
        ).alias("med"),
        F.min("n").cast("bigint").alias("n"),
    )
    dev = ranked.join(med.select("event_type", "med"), "event_type").select(
        "event_type",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
        "event_id",
        "med",
        "n",  # unambiguous: med's n was dropped above
    )
    dranked = dev.select(
        "event_type",
        "dev",
        "med",
        "n",
        F.row_number().over(w.orderBy("dev", "event_id")).alias("rn"),
    )
    mad = dranked.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("rn") == F.floor((F.col("n") + 1) / F.lit(2.0)),
                F.col("dev"),
            )
        ).alias("mad"),
        F.min("med").alias("med"),
        F.min("n").alias("n"),
    )
    return (
        dev.select("event_type", "dev")
        .join(F.broadcast(mad), "event_type")  # one row per event_type
        .groupBy(
            "event_type",
            F.col("n").cast("bigint").alias("n_events"),
            F.col("med").cast("double").alias("med"),
            F.col("mad").cast("double").alias("mad"),
        )
        .agg(
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
    )


@register(
    "lineitem_degree_profile",
    """
    WITH sdeg AS (
      SELECT l_suppkey AS node, COUNT(DISTINCT l_partkey) AS deg
      FROM lineitem GROUP BY 1
    ), pdeg AS (
      SELECT l_partkey AS node, COUNT(DISTINCT l_suppkey) AS deg
      FROM lineitem GROUP BY 1
    ), hist AS (
      SELECT 'supplier' AS side, CAST(deg // 5 AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(deg) AS BIGINT) AS deg_mass
      FROM sdeg GROUP BY 2
      UNION ALL
      SELECT 'part', CAST(deg // 5 AS BIGINT),
             CAST(COUNT(*) AS BIGINT), CAST(SUM(deg) AS BIGINT)
      FROM pdeg GROUP BY 2
    )
    SELECT * FROM hist
    """,
    tags=["analytics", "graph", "degree-distribution"],
)
def q_lineitem_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite degree distribution of the part-supplier graph implied
    by lineitem: per supplier the count of DISTINCT parts shipped, per
    part the count of DISTINCT suppliers, histogrammed in buckets of 5
    with exact node and degree masses — the first diagnostic of any
    co-occurrence graph (a heavy tail here predicts skewed joins and
    hot partitions downstream).

    Scale: two distinct-aggregations (partial-aggregating shuffles on
    each key), then tiny bucket rollups; degree never materializes
    per-pair."""
    li = T(spark, sf_dir, "lineitem")

    def hist(key: str, other: str, side: str) -> DataFrame:
        deg = li.groupBy(F.col(key).alias("node")).agg(
            F.countDistinct(other).alias("deg")
        )
        return deg.groupBy(
            F.floor(F.col("deg") / F.lit(5.0)).cast("bigint").alias("bucket")
        ).agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("deg").cast("bigint").alias("deg_mass"),
        ).select(F.lit(side).alias("side"), "*")

    return hist("l_suppkey", "l_partkey", "supplier").unionByName(
        hist("l_partkey", "l_suppkey", "part")
    )


@register(
    "events_burstiness",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(x) AS BIGINT) AS total,
             CAST(SUM(x * x) AS BIGINT) AS sx2
      FROM daily GROUP BY 1
    )
    SELECT event_type, n_days, total,
           CAST(n_days * sx2 - total * total AS DOUBLE)
             / (CAST(n_days AS DOUBLE) * CAST(total AS DOUBLE)) AS fano
    FROM agg
    """,
    tags=["analytics", "dispersion", "fano"],
)
def q_events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor, variance-to-mean of daily counts) per
    event type: a Poisson-like arrival process sits near 1, bursty
    traffic far above — the standard load-model diagnostic. The
    numerator n*sum(x^2) - total^2 stays an exact BIGINT; ONE trailing
    division produces the double.

    Scale: day-grain rollup (events/365 per group) then a 5-row
    aggregate; magnitudes survive 10^7 events/day/type in int64."""
    from .registry import events_table

    ev = events_table(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("x"))
    agg = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("total"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sx2"),
    )
    return agg.select(
        "event_type",
        "n_days",
        "total",
        (
            (F.col("n_days") * F.col("sx2") - F.col("total") * F.col("total"))
            .cast("double")
            / (F.col("n_days").cast("double") * F.col("total").cast("double"))
        ).alias("fano"),
    )


@register(
    "customer_clv_cohort",
    """
    WITH firsts AS (
      SELECT o_custkey,
             MIN(EXTRACT(year FROM o_orderdate)) AS cohort_year
      FROM orders GROUP BY 1
    ), flows AS (
      SELECT f.cohort_year,
             EXTRACT(year FROM o.o_orderdate) AS order_year,
             o.o_custkey,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    )
    SELECT CAST(cohort_year AS BIGINT) AS cohort_year,
           CAST(order_year AS BIGINT) AS order_year,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(price) AS DOUBLE) AS value_mass
    FROM flows GROUP BY 1, 2
    """,
    tags=["analytics", "cohort", "clv"],
)
def q_customer_clv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value cohort matrix: customers cohorted by
    first-order year, revenue and active-customer counts per
    (cohort_year, order_year) cell — the diagonal-walk table every
    retention/value analysis starts from. EXACT decimal masses; the
    cohort assignment is a MIN aggregation, not a window (cheaper at
    scale).

    Scale: one aggregation to first-order year, one broadcast-or-shuffle
    key join, one rollup to a ~50-cell grid."""
    o = T(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("cohort_year")
    )
    flows = o.join(firsts, "o_custkey").select(
        F.col("cohort_year").cast("bigint").alias("cohort_year"),
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    return flows.groupBy("cohort_year", "order_year").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_active"),
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("price").cast("double").alias("value_mass"),
    )
