"""SparkSession bootstrap.

Local defaults are tuned for the test harness (local[32], small SFs) but
every config is chosen to also be the right default on a large cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on (vectorized pandas interchange for the few Pandas-UDF operators),
ANSI off (the reference's cleaning semantics are "garbage -> NULL, never
throw", matching ``try_to_date``-style tolerance).

Reference parity: ``consolidated_pipeline/1_setup/setup_catalogs.py:4-13``
creates catalog ``fmcg`` with schemas bronze/silver/gold; locally we map
that onto ``spark_catalog`` databases ``fmcg_bronze/fmcg_silver/fmcg_gold``
(Spark without a 3-level metastore has a 2-level namespace).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Schema-name constants (reference: consolidated_pipeline/1_setup/utilities.py:2-4)
BRONZE = "fmcg_bronze"
SILVER = "fmcg_silver"
GOLD = "fmcg_gold"


def get_spark(
    app_name: str = "mergermetrics-lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` and submit with ``--master``/deploy-mode instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)

    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    conf = {
        # Adaptive execution: coalesce post-shuffle partitions, split skewed
        # joins, convert to broadcast at runtime — essential at 100 TB, free
        # at sf0.1.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(n_shuffle),
        # Arrow for the pandas-UDF operators (similarity / multimodal).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # The cleaning layer's contract is tolerant parsing (try_to_date,
        # try_cast): invalid input yields NULL, never an exception.
        "spark.sql.ansi.enabled": "false",
        # Multi-format date parsing (e.g. "MMMM dd, yyyy") needs the
        # non-legacy parser to behave predictably across Spark 3.x/4.x.
        "spark.sql.legacy.timeParserPolicy": "CORRECTED",
        # Broadcast threshold: dims in the star schema are tiny; keep the
        # default 10MB but make it explicit so cluster profiles can tune it.
        "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long nanos and convert explicitly (registry.events_table).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Python DataSource API: let custom connectors consume pushed
        # filters (sources/pydatasource.py implements pushFilters).
        "spark.sql.python.filterPushdown.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
    }
    if warehouse_dir:
        conf["spark.sql.warehouse.dir"] = warehouse_dir
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_medallion_schemas(spark: SparkSession) -> None:
    """DDL bootstrap: bronze/silver/gold databases.

    Reference parity: setup_catalogs.py:4-13 (CREATE CATALOG/SCHEMA IF NOT
    EXISTS); single-catalog Spark maps each medallion schema to a database.
    """
    for db in (BRONZE, SILVER, GOLD):
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")

