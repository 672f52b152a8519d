"""The paper's medallion pipeline, composed from the engine's public
functions: full load, one incremental day, and the dashboard queries.

Every table is a Delta table written through ``sources.delta_log`` with
the change data feed on, as the reference writes every table. Stage
spans (``tr.span``) mark the layer boundaries the traced run reports.
"""

from __future__ import annotations

import datetime as dt
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mergermetrics_lakehouse_pipeline_spark.functions.dates import build_dim_date
from mergermetrics_lakehouse_pipeline_spark.operators import incremental, merge
from mergermetrics_lakehouse_pipeline_spark.pipeline import customers, fact, pricing, products
from mergermetrics_lakehouse_pipeline_spark.plans import star
from mergermetrics_lakehouse_pipeline_spark.session import get_spark
from mergermetrics_lakehouse_pipeline_spark.sources import csv, delta_log

from .gen import Inputs

CDF = {"delta.enableChangeDataFeed": "true"}
DIM_DATE_RANGE = ("2024-01-01", "2026-12-01")
#: gold tables, relative to a warehouse root
DAILY, MONTHLY = "gold/fact_daily", "gold/fact_orders"
DIMS = {
    "dim_date": "gold/dim_date",
    "dim_customers": "gold/dim_customers",
    "dim_products": "gold/dim_products",
    "dim_gross_price": "gold/dim_gross_price",
}
SILVER_PRODUCTS = "silver/products"


def start_session(tr, work: Path, *, ui: bool) -> SparkSession:
    """The engine session; the JVM's scratch files go inside ``work``
    (Spark's local dirs follow SPARK_LOCAL_DIRS, set by run.py)."""
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    conf = {
        # no hsperfdata file under /tmp; the whole heap is committed and
        # touched at start, so the JVM's resident size does not depend on
        # when the collector last grew the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms{heap} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if ui:
        # the status API the traced run reads jobs from
        conf |= {"spark.ui.enabled": "true", "spark.ui.port": "0",
                 "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}
    with tr.span("session.get_spark"):
        return get_spark("perfbench", warehouse_dir=str(work / "warehouse"), extra_conf=conf)


def _month(df: DataFrame):
    return F.trunc(df["date"], "MM")


class Lakehouse:
    """One warehouse root of Delta tables and the pipeline steps on it."""

    def __init__(self, spark: SparkSession, root: Path, tr) -> None:
        self.spark, self.root, self.tr = spark, root, tr

    def path(self, name: str) -> str:
        return str(self.root / name)

    def read(self, name: str) -> DataFrame:
        return delta_log.read_delta(self.spark, self.path(name))

    def save(self, df: DataFrame, name: str) -> None:
        delta_log.write_delta(df, self.path(name), configuration=CDF)

    # -- full load ---------------------------------------------------
    def full_load(self, inputs: Inputs) -> None:
        """Bronze ingest with lineage, silver cleaning, gold dimensions
        and the daily and monthly facts."""
        spark, tr, landing = self.spark, self.tr, inputs.landing
        for name, src in (
            ("customers", landing / "customers.csv"),
            ("products", landing / "products.csv"),
            ("gross_price", landing / "gross_price.csv"),
            ("orders", landing / "orders"),
        ):
            with tr.span("sources.csv.read"):
                self.save(csv.read_csv_with_lineage(spark, str(src)), f"bronze/{name}")

        with tr.span("pipeline.customers.gold"):
            fixes = customers.build_city_fixes(spark, inputs.city_fixes)
            self.save(customers.clean_customers(self.read("bronze/customers"), city_fixes=fixes),
                      "silver/customers")
            self.save(customers.customers_gold(self.read("silver/customers")), DIMS["dim_customers"])
        with tr.span("pipeline.products.gold"):
            self.save(products.clean_products(self.read("bronze/products")), SILVER_PRODUCTS)
            self.save(products.products_gold(self.read(SILVER_PRODUCTS)), DIMS["dim_products"])
        with tr.span("pipeline.pricing.gold"):
            self.save(pricing.clean_prices(self.read("bronze/gross_price")), "silver/gross_price")
            self.save(pricing.pricing_gold(self.read("silver/gross_price"), self.read(SILVER_PRODUCTS)),
                      DIMS["dim_gross_price"])
        with tr.span("pipeline.dates.gold"):
            self.save(build_dim_date(spark, *DIM_DATE_RANGE), DIMS["dim_date"])
        # facts are laid out in date order, so a month's rows sit in few
        # files and stats-based skipping can prune the rest
        with tr.span("pipeline.fact.daily"):
            self.save(fact.clean_orders(self.read("bronze/orders")), "silver/orders")
            daily = fact.daily_fact(self.read("silver/orders"), self.read(SILVER_PRODUCTS))
            self.save(daily.orderBy("date"), DAILY)
        with tr.span("pipeline.fact.monthly"):
            self.save(fact.monthly_rollup(self.read(DAILY)).orderBy("date"), MONTHLY)

    # -- incremental day ----------------------------------------------
    def incremental_day(self, batch_csv: Path) -> None:
        """One daily batch: clean it, insert-only MERGE into the daily
        fact, recompute the months it touches, upsert them into the
        monthly fact."""
        spark, tr = self.spark, self.tr
        with tr.span("sources.csv.read"):
            raw = csv.read_csv_with_lineage(spark, str(batch_csv))
        with tr.span("pipeline.fact.batch"):
            batch = fact.daily_fact(fact.clean_orders(raw), self.read(SILVER_PRODUCTS))
            daily_before = self.read(DAILY)
        delta_log.merge_delta(spark, self.path(DAILY), batch, fact.DAILY_KEYS, when_matched="ignore")
        # the recompute source is the pre-MERGE daily snapshot with the
        # batch merged in, so it does not wait on a second log replay
        new_daily = merge.merge_dataframes(daily_before, batch, fact.DAILY_KEYS, insert_only=True)
        recomputed = incremental.recompute_affected_periods(new_daily, batch, _month, fact.monthly_rollup)
        delta_log.merge_delta(spark, self.path(MONTHLY), recomputed, fact.MONTHLY_KEYS)

    # -- dashboards ---------------------------------------------------
    def view(self, fact_df: DataFrame | None = None) -> DataFrame:
        return star.denormalized_view(
            self.read(MONTHLY) if fact_df is None else fact_df,
            *(self.read(DIMS[d]) for d in ("dim_date", "dim_customers", "dim_products", "dim_gross_price")),
        )

    def bi_query(self, kind: str, arg) -> DataFrame:
        """The frame one dashboard tile runs (see BI_KINDS)."""
        if kind == "view_scan":
            return self.view().agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("total_amount").alias("revenue"),
                F.sum("sold_quantity").alias("quantity"),
            )
        if kind in ("kpi_market", "kpi_category", "kpi_quarter"):
            return star.kpi_pack(self.view(), BI_KPI_GROUP[kind])
        if kind == "top_products":
            return star.top_n_by_revenue(self.view(), "product", arg)
        if kind == "month_slice":
            day = dt.date.fromisoformat(arg)
            sliced, _skipped = delta_log.read_delta_pruned(self.spark, self.path(MONTHLY), "date", day, day)
            return star.kpi_pack(self.view(sliced.filter(F.col("date") == F.lit(day))), "market")
        raise ValueError(f"unknown dashboard query {kind!r}")


BI_KPI_GROUP = {"kpi_market": "market", "kpi_category": "category", "kpi_quarter": "year_quarter"}
BI_KINDS = ["view_scan", "kpi_market", "kpi_category", "kpi_quarter", "top_products", "month_slice"]
