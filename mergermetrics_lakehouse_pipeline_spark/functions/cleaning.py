"""Column-level cleaning / standardization expressions.

Pure functions Column -> Column (or DataFrame -> DataFrame for the keyed
dedup), all built from JVM-side ``pyspark.sql.functions`` so they stay
inside whole-stage codegen — zero Python UDFs, matching the reference's
UDF-free surface (SURVEY §2.10).

Reference parity notes cite ``/root/reference/consolidated_pipeline`` sites
describing WHAT is computed; the implementations here are original,
Spark-idiomatic expressions.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalize_text(col: Column | str, *, title_case: bool = True) -> Column:
    """Trim whitespace and (optionally) title-case.

    Parity: trim of padded customer names + initcap standardization
    (1_customer_data_processing.py:88-93,151-157; 2_products_data_processing.py:108-112).
    """
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    return F.initcap(c) if title_case else c


def standardize_values(
    col: Column | str,
    mapping: Mapping[str, str],
    *,
    keep_unmapped: bool = True,
) -> Column:
    """Map known dirty values to canonical ones via a literal MAP lookup.

    ``create_map(...).getItem(col)`` with a coalesce fallback — exactly the
    shape the reference uses for city-spelling repair
    (1_customer_data_processing.py:104-137). ``keep_unmapped=False`` yields
    NULL for values outside the map (useful before an allowed-set check).
    """
    c = F.col(col) if isinstance(col, str) else col
    pairs: list[Column] = []
    for k, v in mapping.items():
        pairs.extend([F.lit(k), F.lit(v)])
    looked_up = F.create_map(*pairs)[c]
    return F.coalesce(looked_up, c) if keep_unmapped else looked_up


def valid_numeric_or_sentinel(
    col: Column | str,
    sentinel: str = "999999",
    pattern: str = r"^[0-9]+$",
) -> Column:
    """Keep values matching ``pattern``; replace junk (INVALID/ABC987/...)
    with a sentinel id, always returning string.

    Parity: invalid customer/product id handling
    (1_full_load_fact.py:102-107; 2_products_data_processing.py:184-190).
    """
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    return F.when(s.rlike(pattern), s).otherwise(F.lit(sentinel))


def parse_date_multi(col: Column | str, formats: Sequence[str]) -> Column:
    """Tolerant multi-format date parsing: ``try_to_date`` per format,
    coalesced **in order** — precedence matters for ambiguous values like
    ``7/1/25`` (M/d/yy vs d/M/yy); unparseable input yields NULL, never an
    error.

    Parity: 8-format price-month parser (3_pricing_data_processing.py:100-114)
    and 4-format order-date parser (1_full_load_fact.py:116-125).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(*[F.try_to_date(c, fmt) for fmt in formats])


def strip_weekday_prefix(col: Column | str) -> Column:
    """Drop a leading ``"Monday, "``-style weekday from a date string.

    Parity: regexp_replace ``^[A-Za-z]+,\\s*`` (1_full_load_fact.py:111-114).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"^[A-Za-z]+,\s*", "")


def sanitize_price(
    col: Column | str,
    *,
    scale: int = 2,
    numeric_pattern: str = r"^-?\d+(\.\d+)?$",
) -> Column:
    """Price cleaning: non-numeric literals (``unknown``/``not_available``)
    -> 0.0, negatives -> absolute value, rounded to ``scale`` decimals.

    Parity: 3_pricing_data_processing.py:135-141,162 (README:126-128:
    "absolute values").
    """
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    num = F.when(s.rlike(numeric_pattern), s.cast("double")).otherwise(F.lit(0.0))
    return F.round(F.abs(num), scale)


def surrogate_key(*cols: Column | str, num_bits: int = 256) -> Column:
    """Deterministic surrogate key: sha2 over the concatenated natural key.

    Parity: ``product_code = sha2(product_name, 256)``
    (2_products_data_processing.py:177-182; rationale README.md:140-147).
    Multi-column keys are joined with a separator to avoid ambiguity.
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    basis = cs[0].cast("string") if len(cs) == 1 else F.concat_ws("||", *cs)
    return F.sha2(basis, num_bits)


def extract_variant(col: Column | str, pattern: str = r"\((.*?)\)", group: int = 1) -> Column:
    """Pull an embedded variant like ``"(60g)"`` out of a product name.

    Parity: regexp_extract (2_products_data_processing.py:167-170).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, pattern, group)


def dedupe_by_keys(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str] | None = None,
) -> DataFrame:
    """Keyed deduplication.

    With ``order_by``: deterministic keep-first via a row_number window —
    the engine's replacement for ``dropDuplicates(keys)``
    (1_customer_data_processing.py:77; 1_full_load_fact.py:128), whose
    surviving row is otherwise partition-order dependent. Without
    ``order_by``: plain ``dropDuplicates`` (all non-key columns must be
    functionally dependent on the keys for determinism).

    Scale note: this is one shuffle on the key columns either way; at
    100 TB prefer passing ``order_by`` so results are stable across
    re-runs/AQE re-plans.
    """
    if not order_by:
        return df.dropDuplicates(list(keys))
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
