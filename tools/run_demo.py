"""End-to-end medallion demo: child CSVs (with every anomaly class) ->
bronze -> silver -> gold -> consolidated parent star -> BI view + KPIs,
then one incremental cycle. Prints a stage-by-stage summary.

Usage: python tools/run_demo.py [workdir]
"""

from __future__ import annotations

import pathlib
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python UDF workers import the package too; they inherit PYTHONPATH
# from the JVM, which takes this process's environment when it starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from pyspark.sql import functions as F  # noqa: E402

from mergermetrics_lakehouse_pipeline_spark.functions.dates import build_dim_date  # noqa: E402
from mergermetrics_lakehouse_pipeline_spark.pipeline.customers import (  # noqa: E402
    build_city_fixes,
    clean_customers,
    customers_gold,
)
from mergermetrics_lakehouse_pipeline_spark.pipeline.fact import (  # noqa: E402
    clean_orders,
    daily_fact,
    incremental_fact_load,
    monthly_rollup,
)
from mergermetrics_lakehouse_pipeline_spark.pipeline.pricing import (  # noqa: E402
    clean_prices,
    pricing_gold,
)
from mergermetrics_lakehouse_pipeline_spark.pipeline.products import (  # noqa: E402
    clean_products,
    products_gold,
)
from mergermetrics_lakehouse_pipeline_spark.plans.star import (  # noqa: E402
    denormalized_view,
    kpi_pack,
    top_n_by_revenue,
)
from mergermetrics_lakehouse_pipeline_spark.session import (  # noqa: E402
    ensure_medallion_schemas,
    get_spark,
)
from mergermetrics_lakehouse_pipeline_spark.sources.csv import (  # noqa: E402
    archive_landing_files,
    read_csv_with_lineage,
)

CUSTOMERS = """customer_id,customer_name,city
101, SprintX nutrition ,Austn
101, SprintX nutrition ,Austn
102,MacroBite superfoods,Chciago
103,PowerFuel Foods,Newyork
104,VitaBoost Labs,
105,PeakForm Nutrition,Boston
"""

PRODUCTS = """product_name,product_id,category
Protein Bar (60g),1001,protien bars
Energy Bar (45g),1002,energy bars
Hydration Mix (500ml),1003,hydration drinks
Recovery Shake,XYZ123,protein shakes
Energy Bar (45g),1002,energy bars
"""

PRICES = """product_id,month,gross_price
1001,7/1/25,4.50
1001,1/8/25,-4.75
1002,7/1/25,unknown
1002,1/8/25,3.25
1003,7/1/25,2.00
"""

ORDERS_FULL = """order_id,order_placement_date,customer_id,product_id,order_qty
O1,"Monday, December 01, 2025",101,1001,3
O2,01-12-2025,102,1002,2
O3,01/12/2025,103,1003,
O4,2025/12/02,INVALID,1001,5
O5,2025-12-02,104,1002,1
"""

ORDERS_INCR = """order_id,order_placement_date,customer_id,product_id,order_qty
O6,02-12-2025,105,1001,4
O2,01-12-2025,102,1002,2
"""


def main() -> None:
    work = pathlib.Path(sys.argv[1]) if len(sys.argv) > 1 else pathlib.Path(
        tempfile.mkdtemp(prefix="lakehouse_demo_")
    )
    landing, processed = work / "landing", work / "processed"
    landing.mkdir(parents=True, exist_ok=True)
    for name, body in [
        ("customers.csv", CUSTOMERS),
        ("products.csv", PRODUCTS),
        ("gross_price.csv", PRICES),
        ("orders_2025_12_01.csv", ORDERS_FULL),
    ]:
        (landing / name).write_text(body)

    spark = get_spark("demo", warehouse_dir=str(work / "warehouse"))
    ensure_medallion_schemas(spark)
    print(f"workdir: {work}")

    # bronze: raw + lineage, PERSISTED before the landing files move
    # (downstream plans must read tables, not the about-to-be-archived CSVs)
    bronze = {}
    for n, f in [
        ("customers", "customers.csv"),
        ("products", "products.csv"),
        ("prices", "gross_price.csv"),
        ("orders", "orders_2025_12_01.csv"),
    ]:
        read_csv_with_lineage(spark, str(landing / f)).write.mode(
            "overwrite"
        ).saveAsTable(f"fmcg_bronze.{n}")
        bronze[n] = spark.table(f"fmcg_bronze.{n}")
        print(f"bronze.{n}: {bronze[n].count()} rows (lineage: read_timestamp/file_name/file_size)")

    # silver/gold dims
    cust_silver = clean_customers(
        bronze["customers"], city_fixes=build_city_fixes(spark, {104: "Dallas"})
    )
    prod_silver = clean_products(bronze["products"])
    price_gold = pricing_gold(clean_prices(bronze["prices"]), prod_silver)
    dims = {
        "dim_customers": customers_gold(cust_silver),
        "dim_products": products_gold(prod_silver),
        "dim_gross_price": price_gold,
    }
    for n, df in dims.items():
        print(f"gold.{n}: {df.count()} rows")

    # fact full load: clean -> daily -> monthly
    daily = daily_fact(clean_orders(bronze["orders"]), prod_silver)
    monthly = monthly_rollup(daily)
    print(f"gold.fact_daily: {daily.count()} rows; fact_orders (monthly): {monthly.count()} rows")
    moved = archive_landing_files(str(landing), str(processed))
    print(f"archived {len(moved)} landing files -> processed/")

    # incremental cycle
    (landing / "orders_2025_12_02.csv").write_text(ORDERS_INCR)
    batch = daily_fact(
        clean_orders(read_csv_with_lineage(spark, str(landing / "orders_2025_12_02.csv"))),
        prod_silver,
    )
    daily2, monthly2 = incremental_fact_load(daily, monthly, batch)
    print(
        f"incremental: batch {batch.count()} rows -> daily {daily2.count()} "
        f"(idempotent on re-delivered O2), monthly {monthly2.count()}"
    )

    # serving: view + KPIs + top-n
    dim_date = build_dim_date(spark, "2025-01-01", "2026-01-01")
    view = denormalized_view(
        monthly2, dim_date, dims["dim_customers"], dims["dim_products"], price_gold
    )
    print("vw_fact_orders_enriched:")
    view.orderBy("customer_code", "product_code").show(10, truncate=False)
    print("KPIs by market:")
    kpi_pack(view, "market").orderBy("market").show(truncate=False)
    print("top products by revenue:")
    top_n_by_revenue(view, "product", 3).show(truncate=False)


if __name__ == "__main__":
    main()
