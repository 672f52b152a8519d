"""Disjoint replication shared by the scale smokes (scale_smoke.py,
growth_smoke.py, dv_scale_smoke.py, sf1_smoke.py).

``replicate`` unions ``k`` copies of a frame. Copy ``i`` shifts every
key column by ``i * offset``; a caller that offsets BOTH sides of a
foreign key by the same amount keeps the join consistent. The optional
``extra(r, i)`` hook applies the per-copy change that keeps a copy from
duplicating the data it was made from:

- ``jitter_value``: events' ``value`` moves by ``i * 1e-7``, so top-k
  selection stays deterministic and non-degenerate;
- ``suffix_words``: every word of ``text`` gets the suffix ``x{i}``, so
  each copy's shingle space is disjoint (verbatim copies would make a
  k-times-deeper near-duplicate structure, quadratic by construction);
- ``shift_dimension``: embedding dimension ``i mod size`` moves by +8,
  so each copy is a separate cloud in cosine space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

OFF = 100_000_000  # default per-copy key offset, far above any sf1 key


def replicate(
    df: DataFrame, k: int, key_cols: list[str], extra=None, offset: int = OFF
) -> DataFrame:
    out = None
    for i in range(k):
        r = df
        for c in key_cols:
            r = r.withColumn(c, F.col(c) + F.lit(i * offset))
        if extra is not None:
            r = extra(r, i)
        out = r if out is None else out.unionByName(r)
    return out


def jitter_value(r: DataFrame, i: int) -> DataFrame:
    return r.withColumn("value", F.col("value") + F.lit(i * 1e-7))


def suffix_words(r: DataFrame, i: int) -> DataFrame:
    return r.withColumn("text", F.regexp_replace("text", r"(\w+)", f"$1x{i}"))


def shift_dimension(r: DataFrame, i: int) -> DataFrame:
    return r.withColumn(
        "embedding",
        F.expr(
            f"transform(embedding, (v, j) -> CASE WHEN j = {i} % size(embedding) "
            "THEN v + 8.0 ELSE v END)"
        ).cast("array<float>"),
    )
