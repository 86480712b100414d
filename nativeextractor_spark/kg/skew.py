"""Explicit skew handling for hot-key shuffles (north-rule requirement).

What handles skew where in this pipeline:

- **algebraic aggregations** (count/min/sum — ``weight_triples``,
  ``build_graph``): Spark's map-side partial aggregation already combines
  hot keys before the shuffle; explicit salting would only ADD a shuffle.
- **joins on skewed keys** (linking): broadcast when one side is small
  (``kg/linking.py``); AQE skew-join splitting otherwise
  (``session.py`` enables it).
- **unsplittable per-key state** (``collect_set``-style): rewritten as
  joins (``components._small_star``) or capped: every LSH/SimHash/
  embedding bucket self-join is :func:`banded_self_join`, which drops
  buckets over ``max_bucket`` (a documented recall loss, not counted).
- **non-algebraic aggregations over hot keys** (large ``collect_set``/
  ``collect_list`` that cannot be rewritten): :func:`salted_collect_set`
  below — the classic two-phase salted shuffle.

The datagen deliberately produces hot-domain skew (30% of pages on a few
domains, ``datagen/pages.py``) so these paths are exercised.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int = 32, col: str = "_salt") -> DataFrame:
    """Deterministic per-row salt in [0, n_salts): spreads a hot key's rows
    across ``n_salts`` reducers. Derived from all columns via xxhash64 —
    NEVER from Python ``hash()`` (per-process salted) or ``rand()``
    (breaks retry idempotence)."""
    return df.withColumn(
        col, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )


def salted_collect_set(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    out_col: str = "values",
    n_salts: int = 32,
) -> DataFrame:
    """Two-phase salted ``collect_set``: phase 1 collects per (keys, salt)
    — a hot key's set is built by ``n_salts`` reducers in parallel — phase 2
    flattens the per-salt sets. Exact same result as a direct
    ``collect_set`` (sets are idempotent under union), but the phase-1
    shuffle is salted so no single reducer holds a hot key's full set while
    aggregating.
    """
    salted = with_salt(df.select(*keys, value_col), n_salts)
    partial = salted.groupBy(*keys, "_salt").agg(
        F.collect_set(value_col).alias("_part")
    )
    return partial.groupBy(*keys).agg(
        F.array_distinct(F.flatten(F.collect_list("_part"))).alias(out_col)
    )


def banded_self_join(
    buckets: DataFrame, keys: list[str], id_col: str, max_bucket: int
) -> DataFrame:
    """Capped bucket self-join — the blocking step of every LSH-style pair
    generator (MinHash bands, SimHash chunks, hyperplane sign buckets).

    ``buckets`` holds one row per (bucket ``keys``, ``id_col``) membership.
    Buckets with more than ``max_bucket`` rows are dropped before the join,
    so no bucket self-joins quadratically (the standard LSH skew bound: a
    documented recall loss, never an OOM; the drops are not counted).
    Returns (id_a, id_b, n_shared): every pair with ``id_a < id_b`` sharing
    at least one kept bucket, with the number of kept buckets it shares.
    """
    sizes = buckets.groupBy(*keys).agg(F.count("*").alias("_sz"))
    bounded = buckets.join(
        sizes.where(F.col("_sz") <= max_bucket).drop("_sz"), keys
    )
    a = bounded.select(*keys, F.col(id_col).alias("id_a"))
    b = bounded.select(*keys, F.col(id_col).alias("id_b"))
    return (
        a.join(b, keys)
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )


def set_jaccard(a: str, b: str):
    """Exact Jaccard of two distinct-element array columns as a double
    (two empty sets count as identical, 1.0) — the verification of a
    banded join's candidate pairs."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union == 0, F.lit(1.0)).otherwise(inter.cast("double") / union)
