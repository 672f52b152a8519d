"""Row-level DML on lakehouse tables: DELETE and UPDATE analogues.

The reference mutates tables only through MERGE upserts
(1_customer_data_processing.py:311-318); Delta users also run
``DELETE FROM ... WHERE`` and ``UPDATE ... SET ... WHERE`` (GDPR
erasure, corrections, retention enforcement). This module completes the
DML surface for the portable engine:

- pure transformations (`delete_where`, `update_where`) that return the
  post-DML table content — composable, testable, side-effect-free;
- table-level appliers (`delete_from_table`, `update_table`) for catalog
  (parquet) tables that apply the same staged two-write as the MERGE
  operators (operators/merge.py:_merge_table): materialize to a staging
  table, overwrite the target from the fresh scan, drop staging — so the
  target truncation can never recompute from the table being truncated.
  Delta tables use ``sources.delta_log.delete_delta`` / ``update_delta``.

Scale: both operations are one filter/projection pass over the table —
no shuffle at all (plan-narrow); the cost is the rewrite. The staged
rewrite covers the whole table, the honest cost of DML without a
transaction log (for partition-aligned predicates, pair with
overwrite_partitions to bound the rewrite to affected partitions); on
Delta tables, file skipping (stats/Z-order) bounds the rewrite to files
whose min/max overlap the predicate.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import staged_overwrite


def delete_where(df: DataFrame, condition: Column) -> DataFrame:
    """Post-DELETE content: every row NOT matching ``condition``.

    NULL predicate results keep the row (SQL DELETE semantics: only
    rows where the predicate is TRUE are removed)."""
    return df.filter(~F.coalesce(condition, F.lit(False)))


def update_where(
    df: DataFrame, condition: Column, set_map: Mapping[str, Column]
) -> DataFrame:
    """Post-UPDATE content: rows matching ``condition`` take the
    ``set_map`` values (keyed by column name, evaluated over the row);
    other rows and unlisted columns pass through unchanged.

    NULL predicate results leave the row unchanged (SQL UPDATE
    semantics)."""
    unknown = set(set_map) - set(df.columns)
    if unknown:
        raise ValueError(f"update_where: unknown columns {sorted(unknown)}")
    hit = F.coalesce(condition, F.lit(False))
    return df.select(
        *[
            F.when(hit, set_map[c]).otherwise(F.col(c)).alias(c)
            if c in set_map
            else F.col(c)
            for c in df.columns
        ]
    )


def delete_from_table(
    spark: SparkSession, table_name: str, condition_sql: str
) -> None:
    """DELETE FROM table WHERE condition, as a staged rewrite."""
    staged_overwrite(
        spark, table_name, delete_where(spark.table(table_name), F.expr(condition_sql))
    )


def update_table(
    spark: SparkSession,
    table_name: str,
    condition_sql: str,
    set_map: Mapping[str, str],
) -> None:
    """UPDATE table SET col = expr, ... WHERE condition, as a staged
    rewrite. ``set_map`` values are SQL expressions over the row."""
    staged_overwrite(
        spark,
        table_name,
        update_where(
            spark.table(table_name),
            F.expr(condition_sql),
            {c: F.expr(e) for c, e in set_map.items()},
        ),
    )
