"""Surface-form canonicalization: MinHash-LSH blocking + connected components.

Pipeline (north-rule stage):
1. normalize distinct mention surfaces (lower, trim, collapse whitespace;
   diacritics are kept, so ``dvořák`` and ``dvorak`` are different shingles);
2. near-duplicate pairs from the corpus operator
   :func:`nativeextractor_spark.textops.dedup.lsh_duplicate_pairs`:
   MinHash over character 3-shingles (16 xxhash64 minhashes, one per band),
   LSH band self-join, and exact shingle-Jaccard ≥ τ verification, all
   JVM-side. A pair of true Jaccard τ becomes a candidate with probability
   1 − (1 − τ)^16. Hot buckets (skew!) are capped: buckets larger than
   ``max_bucket`` are dropped without a count — the standard LSH skew bound
   (documented loss, never an OOM; a drop counter is ROADMAP Direction 6(c));
3. connected components over verified pairs; canonical id = min surface id
   per component.

At 10^12-document scale the distinct-surface table is orders of magnitude
smaller than the corpus; everything here shuffles only surfaces, never pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nativeextractor_spark.staging import stage

from nativeextractor_spark.kg.components import connected_components

_SHINGLE_K = 3
_NUM_HASHES = 16


def _normalize_surface_col(col):
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def canonicalize_surfaces(
    surfaces: DataFrame,
    *,
    surface_col: str = "surface",
    jaccard_threshold: float = 0.6,
    max_bucket: int = 64,
) -> DataFrame:
    """surfaces(surface) → (surface, norm, surface_id, canonical_id).

    ``canonical_id`` is the min ``surface_id`` of the near-duplicate cluster;
    surfaces with no near-duplicate map to themselves. Two surfaces are
    near-duplicates when the Jaccard of their character 3-shingle sets is at
    least ``jaccard_threshold`` and they share an LSH bucket of at most
    ``max_bucket`` surfaces.
    """
    # imported here: textops.dedup imports kg.skew, whose package imports
    # this module
    from nativeextractor_spark.textops.dedup import lsh_duplicate_pairs

    # materialize the (tiny, by design: distinct surfaces ≪ corpus) norm
    # table once — the LSH shingling, the emptiness probe and the final
    # membership join all reuse it; without truncation each would re-run
    # the full upstream mining lineage
    norm = (
        surfaces.select(F.col(surface_col).alias("surface"))
        .where(F.col("surface").isNotNull())
        .distinct()
        .withColumn("norm", _normalize_surface_col(F.col("surface")))
        .withColumn("surface_id", F.xxhash64("norm"))
        .transform(stage("canon"))
    )
    pairs = lsh_duplicate_pairs(
        norm.select("norm", "surface_id").distinct(),
        text_col="norm",
        id_col="surface_id",
        num_hashes=_NUM_HASHES,
        k=_SHINGLE_K,
        min_shared_bands=1,
        max_bucket=max_bucket,
        hash_flavor="xx64",
        shingle="char",
        verify_jaccard=jaccard_threshold,
    )

    # checkpoint: the LSH lineage (band join → jaccard) is consumed by the
    # emptiness probe, every CC round's seed, and the final membership
    # join — without truncation it would re-execute each time
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).transform(stage("canon"))
    if edges.isEmpty():
        return norm.withColumn("canonical_id", F.col("surface_id"))
    comps = connected_components(edges)
    return (
        norm.join(
            comps, norm["surface_id"] == comps["node"], "left"
        )
        .drop("node")
        .withColumn("canonical_id", F.coalesce("component", "surface_id"))
        .drop("component")
    )
