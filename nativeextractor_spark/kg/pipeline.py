"""End-to-end KG construction pipeline (the flagship job).

pages (url, warc_ts, html, text, lang)
  ├→ [scan pass 1] occurrences (mentions; zero shuffle)
  └→ [scan pass 2] sentence-window triples (zero shuffle)
       → canonicalization of NER surfaces (MinHash-LSH over *distinct*
         surfaces + CC)
       → nodes/edges (aggregations) → idempotent MERGE into partitioned tables

Entity linking against the alias table is the standalone operator
:func:`~nativeextractor_spark.kg.linking.link_mentions`; node ids come from
canonicalization, so the pipeline does not link.

Under a ``checkpoint_root`` every stage goes through
:func:`nativeextractor_spark.staging.resume_or_run`: a parquet copy with a
manifest holding the config-hash signature, row count, schema and
per-partition lineage → exact resume.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nativeextractor_spark.datagen.aliases import alias_rows
from nativeextractor_spark.kg.canonicalize import canonicalize_surfaces
from nativeextractor_spark.kg.graph import build_graph, merge_into
from nativeextractor_spark.kg.triples import extract_triples
from nativeextractor_spark.miners import (
    AliasDict,
    DateMiner,
    EmailMiner,
    GazetteerMiner,
    UrlMiner,
)
from nativeextractor_spark.miners.builtin import TelephoneMiner
from nativeextractor_spark.operators.extract import extract_occurrences
from nativeextractor_spark.staging import resume_or_run


def default_kg_miners(alias_list: Sequence[str] | None = None):
    aliases = alias_list if alias_list is not None else [a for a, *_ in alias_rows()]
    gaz = GazetteerMiner(AliasDict.from_aliases(list(aliases)), label="NER")
    return [gaz, EmailMiner(), UrlMiner(), DateMiner(), TelephoneMiner()]


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    alias_df: DataFrame | None = None,
    checkpoint_root: str | None = None,
    input_sig: str = "",
) -> dict[str, DataFrame]:
    """Run the full KG pipeline; returns all stage DataFrames."""
    if alias_df is None:
        from nativeextractor_spark.datagen.aliases import build_alias_df

        alias_df = build_alias_df(spark)
    alias_list = [r.alias for r in alias_df.select("alias").distinct().collect()]
    miners = default_kg_miners(alias_list)
    occurrences = resume_or_run(
        checkpoint_root,
        "occurrences",
        {"miners": sorted(m.label for m in miners)},
        input_sig,
        lambda: extract_occurrences(pages, miners),
    )
    triples = resume_or_run(
        checkpoint_root,
        "triples",
        {"miners": sorted(m.label for m in miners), "max_pairs": 16},
        input_sig,
        lambda: extract_triples(pages, miners),
    )
    # Only NER (name-like) surfaces get fuzzy canonicalization; EMAIL/URL/
    # DATE/TEL mentions are already canonical identifiers — MinHash-merging
    # them would be wrong, and they dominate distinct-surface counts.
    surfaces = (
        triples.where(F.col("subj_type") == "NER")
        .select(F.col("subj").alias("surface"))
        .unionByName(
            triples.where(F.col("obj_type") == "NER")
            .select(F.col("obj").alias("surface"))
        )
        .distinct()
    )
    canonical = resume_or_run(
        checkpoint_root,
        "canonical",
        {"shingle": "char3", "num_hashes": 16, "bands": 16, "tau": 0.6},
        input_sig,
        lambda: canonicalize_surfaces(surfaces),
    )
    nodes, edges = build_graph(triples, canonical)
    nodes = resume_or_run(checkpoint_root, "nodes", {}, input_sig, lambda: nodes)
    edges = resume_or_run(checkpoint_root, "edges", {}, input_sig, lambda: edges)
    return {
        "occurrences": occurrences,
        "triples": triples,
        "canonical": canonical,
        "nodes": nodes,
        "edges": edges,
    }


def materialize_graph(
    nodes: DataFrame, edges: DataFrame, out_root: str
) -> None:
    """Idempotent natural-key MERGE of nodes/edges tables."""
    merge_into(nodes, f"{out_root}/nodes", keys=["entity_id"])
    merge_into(edges, f"{out_root}/edges", keys=["src", "dst", "pred"])
