"""Correctness checks against DuckDB, run outside the timed region.

The checks read the Delta tables through the benchmark's own log reader
(``tracing.DeltaLog``) and DuckDB's parquet scan, never through the
engine, and compare with the generator's ground truth. Each returns a
list of problems; an empty list means the output is correct. The
operator headline rows are checked against their ``registry.oracle_sql``
twins with the repository's correctness gate, ``tools/check_correctness.py``.
"""

from __future__ import annotations

import importlib.util
import json
import math
from pathlib import Path
from urllib.parse import unquote

import duckdb
import pandas as pd

from mergermetrics_lakehouse_pipeline_spark import registry

from .medallion import DAILY, DIMS, MONTHLY
from .tracing import DeltaLog


def _scan(root: Path, table: str) -> str:
    """DuckDB table expression over the live files of a Delta table."""
    table_dir = root / table
    files = [str(table_dir / unquote(p)) for p in sorted(DeltaLog(str(table_dir)).live_files())]
    return f"read_parquet({files!r})"


def _connect(root: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, table in [("daily", DAILY), ("monthly", MONTHLY), *DIMS.items()]:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {_scan(root, table)}")
    return con


def check_load(root: Path, truth: Path) -> list[str]:
    """Row counts of every gold table and monthly quantity totals."""
    con = _connect(root)
    problems = []
    expected = json.loads((truth / "counts.json").read_text())
    expected["daily"] = con.execute(f"SELECT count(*) FROM '{truth / 'base.parquet'}'").fetchone()[0]
    for name, table in [("customers", "dim_customers"), ("products", "dim_products"),
                        ("gross_price", "dim_gross_price"), ("daily", "daily")]:
        got = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
        if got != expected[name]:
            problems.append(f"{table}: {got} rows, expected {expected[name]}")
    diff = con.execute(
        f"""
        WITH want AS (SELECT date_trunc('month', date)::DATE AS m, CAST(sum(sold_quantity) AS BIGINT) AS q
                      FROM '{truth / 'base.parquet'}' GROUP BY 1),
             got AS (SELECT date AS m, sum(sold_quantity) AS q FROM monthly GROUP BY 1)
        SELECT count(*) FROM want FULL JOIN got USING (m) WHERE want.q IS DISTINCT FROM got.q
        """
    ).fetchone()[0]
    if diff:
        problems.append(f"fact_orders: {diff} months whose quantity total differs from the input")
    return problems


def check_cycles(root: Path, truth: Path, n_batches: int) -> list[str]:
    """After ``n_batches`` incremental days: the daily fact holds every
    clean line exactly once (re-delivered lines included once), and the
    monthly fact equals the rollup of the daily fact."""
    con = _connect(root)
    parts = [truth / "base.parquet"] + [truth / f"batch_{i:03d}.parquet" for i in range(n_batches)]
    con.execute(f"CREATE VIEW want AS SELECT DISTINCT * FROM read_parquet({[str(p) for p in parts]!r})")
    cols = "date, order_id, product_code, customer_code, sold_quantity"
    problems = []
    for a, b in (("daily", "want"), ("want", "daily")):
        n = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b})").fetchone()[0]
        if n:
            problems.append(f"fact_daily: {n} rows in {a} missing from {b}")
    rollup = """SELECT date_trunc('month', date)::DATE AS date, product_code, customer_code,
                       CAST(sum(sold_quantity) AS BIGINT) AS sold_quantity
                FROM daily GROUP BY 1, 2, 3"""
    cols = "date, product_code, customer_code, sold_quantity"
    for a, b in ((f"SELECT {cols} FROM monthly", rollup), (rollup, f"SELECT {cols} FROM monthly")):
        n = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
        if n:
            problems.append(f"fact_orders: {n} rows differ from the rollup of fact_daily")
    return problems


_VIEW = """
CREATE VIEW v AS
SELECT fo.date, dd.year, dd.quarter, dd.year_quarter, dd.month_name, fo.customer_code,
       dc.customer, dc.market, dc.platform, dc.channel, fo.product_code, dp.division,
       dp.category, dp.product, dp.variant, fo.sold_quantity, gp.price_usd,
       fo.sold_quantity * gp.price_usd AS total_amount
FROM monthly fo
LEFT JOIN dim_date dd ON fo.date = dd.month_start_date
LEFT JOIN dim_customers dc ON fo.customer_code = dc.customer_code
LEFT JOIN dim_products dp ON fo.product_code = dp.product_code
LEFT JOIN dim_gross_price gp ON dp.product_code = gp.product_code
                            AND CAST(year(fo.date) AS VARCHAR) = gp.year
"""
_KPI = """sum(total_amount) AS revenue, sum(sold_quantity) AS quantity,
          count(DISTINCT customer_code) AS unique_customers,
          sum(total_amount) / sum(sold_quantity) AS avg_selling_price"""


def _bi_sql(kind: str, arg) -> tuple[str, bool]:
    """DuckDB twin of ``medallion.Lakehouse.bi_query``: (sql, ordered)."""
    group = {"kpi_market": "market", "kpi_category": "category", "kpi_quarter": "year_quarter"}
    if kind == "view_scan":
        return "SELECT count(*), sum(total_amount), sum(sold_quantity) FROM v", False
    if kind in group:
        return f"SELECT {group[kind]}, {_KPI} FROM v GROUP BY 1", False
    if kind == "top_products":
        return (f"SELECT product, sum(total_amount) AS revenue FROM v GROUP BY 1 "
                f"ORDER BY revenue DESC, product LIMIT {int(arg)}"), True
    if kind == "month_slice":
        return f"SELECT market, {_KPI} FROM v WHERE date = DATE '{arg}' GROUP BY 1", False
    raise ValueError(kind)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _rows_match(got: list[tuple], want: list[tuple], ordered: bool) -> bool:
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w)) for g, w in zip(got, want)
    )


class BiOracle:
    """Expected dashboard results, computed once per (kind, arg)."""

    def __init__(self, root: Path) -> None:
        self.con = _connect(root)
        self.con.execute(_VIEW)
        self.cache: dict[tuple, tuple[list[tuple], bool]] = {}

    def matches(self, kind: str, arg, rows: list[tuple]) -> bool:
        key = (kind, arg)
        if key not in self.cache:
            sql, ordered = _bi_sql(kind, arg)
            self.cache[key] = (self.con.execute(sql).fetchall(), ordered)
        want, ordered = self.cache[key]
        # sorting by repr must see the same Python types on both sides
        got = [tuple(float(x) if isinstance(x, float) else x for x in r) for r in rows]
        return _rows_match(got, want, ordered)


def _correctness_gate():
    """``tools/check_correctness.py``: its DuckDB views over a table
    directory and its order-insensitive compare."""
    path = Path(__file__).resolve().parent.parent / "tools" / "check_correctness.py"
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


#: rows-only headline rows (no oracle SQL): the row count they must have
ROWS_ONLY = {"media_extract_features": "SELECT count(*) FROM documents"}


class HeadlineOracle:
    """Expected results of the operator headline rows over the generated
    tables, computed once per row."""

    def __init__(self, tables: Path) -> None:
        self.gate = _correctness_gate()
        self.con = self.gate.duck_connect(str(tables))
        self.sql = registry.oracle_sql()
        self.cache: dict[str, object] = {}

    def matches(self, name: str, got: pd.DataFrame) -> bool:
        if name not in self.cache:
            if name in self.sql:
                self.cache[name] = self.con.execute(self.sql[name]).fetchdf()
            else:
                self.cache[name] = self.con.execute(ROWS_ONLY[name]).fetchone()[0]
        want = self.cache[name]
        if isinstance(want, int):
            return len(got) == want
        return self.gate.compare(name, got, want)[0]
