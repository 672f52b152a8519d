"""Serving layer: the denormalized BI view + dashboard query pack (EP3).

Reference semantics (Tableu dashboard/denormalise_table_query_fmcg.txt:
1-51): fact LEFT JOIN dim_date / dim_customers / dim_products /
dim_gross_price (compound key product_code AND YEAR(date) = year) with
derived total_amount = sold_quantity * price.

Documented deviation (SURVEY §3 EP3): the reference view selects
``gp.price_inr`` although its own pipeline produces ``price_usd``; this
engine uses ``price_usd`` consistently.

Scale: every dim side is broadcast (dims are orders of magnitude smaller
than the fact); the view itself is logical — queries over it inherit the
fact table's partitioning and prune by month.

Plan construction: a dashboard tile builds the view and its aggregate
on every call, so projections, join conditions and aggregates are SQL
strings (``selectExpr``, ``F.expr``). Under PySpark 4 each Column built
through the ``functions`` API costs a dozen to 60 py4j round trips; a
SQL string is parsed in the JVM in one to three. The analyzed plans are
the same either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: the view's 18 columns, in order; one ``selectExpr`` builds them all
_VIEW_COLUMNS = (
    "fo.date AS date",
    "dd.year AS year",
    "dd.quarter AS quarter",
    "dd.year_quarter AS year_quarter",
    "dd.month_name AS month_name",
    "fo.customer_code AS customer_code",
    "dc.customer AS customer",
    "dc.market AS market",
    "dc.platform AS platform",
    "dc.channel AS channel",
    "fo.product_code AS product_code",
    "dp.division AS division",
    "dp.category AS category",
    "dp.product AS product",
    "dp.variant AS variant",
    "fo.sold_quantity AS sold_quantity",
    "gp.price_usd AS price_usd",
    "fo.sold_quantity * gp.price_usd AS total_amount",
)


def denormalized_view(
    fact: DataFrame,
    dim_date: DataFrame,
    dim_customers: DataFrame,
    dim_products: DataFrame,
    dim_gross_price: DataFrame,
) -> DataFrame:
    """vw_fact_orders_enriched: the 4-way star LEFT JOIN (J4)."""
    return (
        fact.alias("fo")
        .join(
            F.broadcast(dim_date.alias("dd")),
            F.expr("fo.date = dd.month_start_date"),
            "left",
        )
        .join(F.broadcast(dim_customers.alias("dc")), "customer_code", "left")
        .join(F.broadcast(dim_products.alias("dp")), "product_code", "left")
        .join(
            F.broadcast(dim_gross_price.alias("gp")),
            F.expr(
                "dp.product_code = gp.product_code"
                " AND CAST(year(fo.date) AS STRING) = gp.year"
            ),
            "left",
        )
        .selectExpr(*_VIEW_COLUMNS)
    )


def kpi_pack(view: DataFrame, *group_cols: str) -> DataFrame:
    """Dashboard KPIs (README.md:196-200): revenue, quantity, unique
    customers, average selling price — optionally sliced."""
    return view.groupBy(*group_cols).agg(
        F.expr("sum(total_amount) AS revenue"),
        F.expr("sum(sold_quantity) AS quantity"),
        F.expr("count(DISTINCT customer_code) AS unique_customers"),
        F.expr("sum(total_amount) / sum(sold_quantity) AS avg_selling_price"),
    )


def top_n_by_revenue(view: DataFrame, key: str, n: int = 5) -> DataFrame:
    """Top-N entities by revenue (README.md:198,204-208) — aggregate then
    TakeOrderedAndProject; deterministic via key tie-break."""
    return (
        view.groupBy(key)
        .agg(F.expr("sum(total_amount) AS revenue"))
        .orderBy(F.desc("revenue"), key)
        .limit(n)
    )
