"""Entity linking: mention surfaces → entity ids via the alias dictionary.

Reference analogue: per-key user data on trie terminal nodes
(``/root/reference/src/patricia.c:523-552``) — the gazetteer payload IS the
link target. Spark path: a DataFrame broadcast join, composable over any
occurrences table — mention ⋈ broadcast(aliases) on the exact surface,
falling back to the lowercased surface. The alias table is small by
construction → Catalyst broadcast-hash-join, no shuffle of the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def link_mentions(
    occurrences: DataFrame,
    alias_df: DataFrame,
    surface_col: str = "str",
) -> DataFrame:
    """occurrences + (entity_id, canonical, entity_type); unlinked stay null.

    Exact-surface matches win over lowercase matches (deterministic:
    per-alias-key the dictionary is unique by construction; if a lowercased
    surface is ambiguous the smallest entity_id wins).
    """
    exact = F.broadcast(
        alias_df.select(
            F.col("alias"),
            F.col("entity_id").alias("_eid_exact"),
            F.col("canonical").alias("_canon_exact"),
            F.col("entity_type").alias("_etype_exact"),
        )
    )
    lower = F.broadcast(
        alias_df.groupBy(F.lower(F.col("alias")).alias("_alias_lower"))
        .agg(
            F.min(F.struct("entity_id", "canonical", "entity_type")).alias("_m")
        )
        .select(
            "_alias_lower",
            F.col("_m.entity_id").alias("_eid_lower"),
            F.col("_m.canonical").alias("_canon_lower"),
            F.col("_m.entity_type").alias("_etype_lower"),
        )
    )
    out = (
        occurrences.join(exact, occurrences[surface_col] == exact["alias"], "left")
        .drop("alias")
        .join(
            lower,
            F.lower(occurrences[surface_col]) == lower["_alias_lower"],
            "left",
        )
        .drop("_alias_lower")
    )
    return out.select(
        *occurrences.columns,
        F.coalesce("_eid_exact", "_eid_lower").alias("entity_id"),
        F.coalesce("_canon_exact", "_canon_lower").alias("canonical"),
        F.coalesce("_etype_exact", "_etype_lower").alias("entity_type"),
    )
