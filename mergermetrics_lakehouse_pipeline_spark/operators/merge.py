"""MERGE / upsert operators.

The reference consolidates every dimension and fact with Delta
``MERGE INTO`` (SURVEY §2.3 J5-J7):

- J5 ``whenMatchedUpdateAll / whenNotMatchedInsertAll``
  (1_customer_data_processing.py:311-318, 1_full_load_fact.py:160-161)
- J6 explicit column maps ``whenMatchedUpdate(set=...) /
  whenNotMatchedInsert(values=...)`` (2_products_data_processing.py:245-263)
- J7 insert-only append-dedupe ``whenNotMatchedInsertAll()``
  (1_full_load_fact.py:182-186)

On catalog (parquet) tables this module implements all three as one
pure-Spark rewrite (``merge_dataframes``):
``source-resolved-rows UNION target-rows-without-a-source-match``.
Semantics match Delta MERGE for unique-key sources: matched target rows
take the source (or mapped) values, unmatched target rows pass through,
unmatched source rows are inserted. Like Delta, multiple source matches
for one target key are rejected (Delta raises
DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW) unless the caller dedupes
first. The table-level entry points (``upsert_all``, ``upsert_mapped``,
``insert_only``) write the merged content back through
``sources.catalog.staged_overwrite``; Delta tables merge through
``sources.delta_log.merge_delta`` instead.

Scale: one shuffle on the merge keys for the join + one for the anti
side; with the target bucketed/partitioned on the keys (see
sources/catalog.py) the join co-locates and the anti-join reuses the same
exchange.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.catalog import staged_overwrite


def _key_condition(target: DataFrame, source: DataFrame, keys: Sequence[str]) -> Column:
    cond = target[keys[0]].eqNullSafe(source[keys[0]])
    for k in keys[1:]:
        cond = cond & target[k].eqNullSafe(source[k])
    return cond


def _assert_unique_source(source: DataFrame, keys: Sequence[str]) -> None:
    """Delta-MERGE parity: a source with duplicate merge keys is an error,
    not a silent nondeterministic pick. One shuffle by the keys (NULL
    keys group together, as ``<=>`` matches them) and a probe for any
    group of two or more: one map-stage job and one result job."""
    dups = source.groupBy(*keys).count().filter(F.col("count") > 1)
    if not dups.isEmpty():
        raise ValueError(
            f"merge source has multiple rows per key {list(keys)}; "
            "dedupe the source first (Delta MERGE would raise the same)"
        )


def merge_dataframes(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    *,
    update_set: Mapping[str, Column] | None = None,
    insert_values: Mapping[str, Column] | None = None,
    insert_only: bool = False,
    check_unique_source: bool = True,
) -> DataFrame:
    """Pure-DataFrame MERGE returning the merged table content.

    - default: update-all / insert-all (J5)
    - ``update_set`` / ``insert_values``: explicit column maps (J6); maps
      are keyed by target column name, values are Columns over the
      *source* relation
    - ``insert_only=True``: J7 idempotent append (existing target rows
      never change)
    """
    if check_unique_source:
        _assert_unique_source(source, keys)
    tgt_cols = target.columns

    if insert_only:
        # NULL keys match NULL keys, as in J5/J6 — a NULL-keyed source
        # row already in the target is not inserted again on a re-run
        t_keys = target.select(*keys)
        new_rows = source.join(
            t_keys, _key_condition(t_keys, source, keys), "left_anti"
        )
        if insert_values:
            new_rows = new_rows.select(
                *[insert_values.get(c, F.col(c)).alias(c) for c in tgt_cols]
            )
        else:
            new_rows = new_rows.select(*tgt_cols)
        return target.unionByName(new_rows)

    # existence markers survive NULL merge keys (eqNullSafe join)
    t = target.withColumn("__t_exists", F.lit(True)).alias("t")
    s = source.withColumn("__s_exists", F.lit(True)).alias("s")
    cond = _key_condition(t, s, keys)
    joined = t.join(s, cond, "full_outer")
    has_source = F.col("s.__s_exists").isNotNull()
    has_target = F.col("t.__t_exists").isNotNull()

    def resolved(c: str) -> Column:
        if update_set is not None:
            # explicit update map (J6): columns not listed KEEP the target
            # value on match — Delta whenMatchedUpdate(set=...) semantics
            src_val = update_set[c] if c in update_set else F.col(f"t.{c}")
        else:
            # update-all (J5): matched rows take every source column
            src_val = F.col(f"s.{c}") if c in source.columns else F.col(f"t.{c}")
        ins_val = (
            insert_values[c]
            if insert_values and c in insert_values
            else (F.col(f"s.{c}") if c in source.columns else F.lit(None))
        )
        return (
            F.when(has_target & has_source, src_val)
            .when(has_target & ~has_source, F.col(f"t.{c}"))
            .otherwise(ins_val)
            .alias(c)
        )

    return joined.select(*[resolved(c) for c in tgt_cols])


def upsert_all(
    table_name: str, source: DataFrame, keys: Sequence[str]
) -> None:
    """J5: MERGE update-all/insert-all into a saved table (in place)."""
    _merge_table(table_name, source, keys, None, None, False)


def upsert_mapped(
    table_name: str,
    source: DataFrame,
    keys: Sequence[str],
    update_set: Mapping[str, Column],
    insert_values: Mapping[str, Column],
) -> None:
    """J6: MERGE with explicit column maps into a saved table."""
    _merge_table(table_name, source, keys, update_set, insert_values, False)


def insert_only(table_name: str, source: DataFrame, keys: Sequence[str]) -> None:
    """J7: idempotent append-dedupe MERGE into a saved table."""
    _merge_table(table_name, source, keys, None, None, True)


def _merge_table(
    table_name: str,
    source: DataFrame,
    keys: Sequence[str],
    update_set: Mapping[str, Column] | None,
    insert_values: Mapping[str, Column] | None,
    insert_only_flag: bool,
) -> None:
    spark = source.sparkSession
    target = spark.table(table_name)
    merged = merge_dataframes(
        target,
        source,
        keys,
        update_set=update_set,
        insert_values=insert_values,
        insert_only=insert_only_flag,
    )
    # overwrite-in-place via the shared uuid-suffixed staging rewrite
    # (sources/catalog.py:staged_overwrite — rationale there)
    staged_overwrite(spark, table_name, merged)
