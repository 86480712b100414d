"""The benchmark's jobs, their output checks and their traced layer sweeps.

Each composed job mirrors the product's spark-submit entry point
(``jobs/run_pipeline.py``, ``jobs/curate.py``, ``jobs/ngrep.py``): read
the input table, call the public pipeline function, commit the output.
Each sweep calls the same layers one by one through their public
functions, with the input of every span materialized outside it and its
output forced inside it.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NGREP_CHUNK_CHARS = 1 << 17  # the 2 MB stream: four chunks per local slot
NGREP_OVERLAP = 4096
# curate_corpus's near-dedup defaults, spelled out for the traced sweep
LSH_ARGS = dict(
    num_hashes=8, k=3, min_shared_bands=2, hash_flavor="xx64",
    shingle="word_hash", max_bucket=200, verify_jaccard=0.7,
)


def _ckpt(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def digest(df: DataFrame, *extra):
    """Order-independent digest (row count and the sum of row hashes),
    followed by the values of any ``extra`` aggregates from the same job."""
    cols = sorted(df.columns)
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        *extra,
    ).first()
    return (f"{row[0]}:{row[1]}", *row[2:]) if extra else f"{row[0]}:{row[1]}"


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


# ------------------------------------------------------------------- KG job


def read_aliases(spark, inp: dict) -> DataFrame:
    return (
        spark.read.option("header", "true")
        .csv(os.path.join(inp["dir"], "aliases.csv"))
        .selectExpr(
            "alias",
            "cast(entity_id as long) entity_id",
            "coalesce(canonical, alias) canonical",
            "coalesce(entity_type, 'ENT') entity_type",
        )
    )


def kg_job(spark, inp: dict, out: str) -> None:
    from nativeextractor_spark.kg import run_pipeline
    from nativeextractor_spark.kg.pipeline import materialize_graph

    pages = spark.read.parquet(os.path.join(inp["dir"], "pages.parquet"))
    res = run_pipeline(
        spark, pages, alias_df=read_aliases(spark, inp), input_sig=inp["dir"]
    )
    materialize_graph(res["nodes"], res["edges"], out)


def kg_check(spark, inp: dict, out: str, _result=None) -> tuple[dict, list[str]]:
    # one scan of each bucketed table; the checks then read the checkpoint
    nodes = _ckpt(spark.read.parquet(f"{out}/nodes").drop("_bucket"))
    edges = _ckpt(spark.read.parquet(f"{out}/edges").drop("_bucket"))
    node_digest, mentions = digest(nodes, F.sum("n_mentions"))
    edge_digest, weight = digest(edges, F.sum("weight"))
    facts = {"nodes": node_digest, "edges": edge_digest}
    errors = []
    if not mentions or mentions != 2 * weight:
        errors.append(f"sum(n_mentions)={mentions} != 2*sum(weight)={weight}")
    ids = nodes.select(F.col("entity_id").alias("id"))
    dangling = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .join(ids, "id", "left_anti")
        .count()
    )
    if dangling:
        errors.append(f"{dangling} edge endpoints are not nodes")
    return facts, errors


def kg_sweep(tr, spark, inp: dict, work: str) -> None:
    from nativeextractor_spark.kg.canonicalize import canonicalize_surfaces
    from nativeextractor_spark.kg.graph import build_graph, merge_into
    from nativeextractor_spark.kg.linking import link_mentions
    from nativeextractor_spark.kg.pipeline import default_kg_miners
    from nativeextractor_spark.kg.triples import extract_triples
    from nativeextractor_spark.operators.extract import extract_occurrences

    pages = _ckpt(spark.read.parquet(os.path.join(inp["dir"], "pages.parquet")))
    alias_df = _ckpt(read_aliases(spark, inp))
    miners = default_kg_miners([r.alias for r in alias_df.select("alias").collect()])

    occ = tr.span("extract.extract_occurrences",
                  lambda: _ckpt(extract_occurrences(pages, miners)))
    triples = tr.span("kg.triples.extract_triples",
                      lambda: _ckpt(extract_triples(pages, miners)))
    tr.span("kg.linking.link_mentions",
            lambda: _ckpt(link_mentions(occ.where(F.col("label") == "NER"), alias_df)))
    # the surface table run_pipeline hands to canonicalize
    surfaces = _ckpt(
        triples.where(F.col("subj_type") == "NER").select(F.col("subj").alias("surface"))
        .unionByName(
            triples.where(F.col("obj_type") == "NER").select(F.col("obj").alias("surface"))
        )
        .distinct()
    )
    canonical = tr.span("kg.canonicalize.canonicalize_surfaces",
                        lambda: _ckpt(canonicalize_surfaces(surfaces)))
    nodes, edges = tr.span(
        "kg.graph.build_graph",
        lambda: tuple(_ckpt(x) for x in build_graph(triples, canonical)),
        rows=lambda r: r[0].count() + r[1].count(),
    )
    # write amplification base: the same rows as one plain parquet table each
    plain = os.path.join(work, "kg_plain")
    nodes.write.mode("overwrite").parquet(fresh_dir(plain) + "/nodes")
    edges.write.mode("overwrite").parquet(plain + "/edges")
    graph = fresh_dir(os.path.join(work, "kg_layers"))
    tr.span(
        "kg.graph.merge_into",
        lambda: (
            merge_into(nodes, f"{graph}/nodes", keys=["entity_id"]),
            merge_into(edges, f"{graph}/edges", keys=["src", "dst", "pred"]),
        ),
        rows=None,
    )
    tr.set_extra("kg.graph.merge_into", "write_amp_base_bytes", _tree_bytes(plain))


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )


# -------------------------------------------------------------- curate_dups


def curate_job(spark, inp: dict, out: str) -> dict:
    from nativeextractor_spark.io import write_table
    from nativeextractor_spark.textops.pipeline import curate_corpus

    pages = spark.read.parquet(os.path.join(inp["dir"], "pages.parquet"))
    curated, metrics = curate_corpus(pages)
    write_table(curated, out)
    return metrics


def curate_check(spark, inp: dict, out: str, metrics: dict) -> tuple[dict, list[str]]:
    curated = spark.read.parquet(out)
    facts = {"curated": digest(curated), "stages": metrics}
    errors = []
    n = int(facts["curated"].split(":")[0])
    if n != metrics.get("n_output"):
        errors.append(f"{n} rows written, metrics say {metrics.get('n_output')}")
    exact = curated.where(F.col("url").isin(inp["exact_copies"])).count()
    if exact:
        errors.append(f"{exact} planted exact copies survived")
    near = curated.where(F.col("url").isin(inp["near_copies"])).count()
    facts["near_copies_kept"] = near
    return facts, errors


def curate_sweep(tr, spark, inp: dict, work: str) -> None:
    from nativeextractor_spark.io import write_table
    from nativeextractor_spark.kg.components import connected_components
    from nativeextractor_spark.textops.dedup import dedup_exact, lsh_duplicate_pairs
    from nativeextractor_spark.textops.lines import (
        drop_duplicate_lines,
        gopher_filter_keep_kernel,
    )
    from nativeextractor_spark.textops.redact import redact_pii

    pages = spark.read.parquet(os.path.join(inp["dir"], "pages.parquet"))
    df = _ckpt(pages.select(F.col("url").alias("_id"), F.col("text").alias("_text")))
    keep = tr.span("textops.lines.gopher_filter_keep_kernel",
                   lambda: _ckpt(gopher_filter_keep_kernel(df, "_text", "_id", "span")))
    df = _ckpt(df.join(keep.select(F.col("doc_id").alias("_id")), "_id"))
    keepers = tr.span("textops.dedup.dedup_exact",
                      lambda: _ckpt(dedup_exact(df, text_col="_text", id_col="_id")))
    df = _ckpt(df.join(keepers.select(F.col("doc_id").alias("_id")), "_id"))
    lines = tr.span("textops.lines.drop_duplicate_lines",
                    lambda: _ckpt(drop_duplicate_lines(df, text_col="_text", id_col="_id")))
    df = _ckpt(lines.select(F.col("doc_id").alias("_id"), F.col("text").alias("_text")))
    pairs = tr.span(
        "textops.dedup.lsh_duplicate_pairs",
        lambda: _ckpt(lsh_duplicate_pairs(df, text_col="_text", id_col="_id", **LSH_ARGS)),
    )
    edges = _ckpt(pairs.select(F.xxhash64("doc_a").alias("u"), F.xxhash64("doc_b").alias("v")))
    tr.span("kg.components.connected_components",
            lambda: _ckpt(connected_components(edges)))
    red = tr.span("textops.redact.redact_pii",
                  lambda: _ckpt(redact_pii(df, text_col="_text", key_col="_id")))
    tr.span(
        "io.tables.write_table",
        lambda: write_table(
            red.select(F.col("_id").alias("url"), "text"),
            fresh_dir(os.path.join(work, "curate_layers")),
        ),
        rows=None,
    )


# ------------------------------------------------------------ ngrep stream


def ngrep_miners():
    from nativeextractor_spark.miners import GlobMiner
    from nativeextractor_spark.miners.builtin import EMAIL_SIMPLE_PATTERN, TEL_NO_PATTERN
    from nativeextractor_spark.miners.regex_dfa import DfaMiner

    return [
        GlobMiner("s*k"),
        GlobMiner("*i*k*"),
        DfaMiner("EMAIL", EMAIL_SIMPLE_PATTERN),
        DfaMiner("TEL_NO", TEL_NO_PATTERN),
    ]


def ngrep_job(spark, inp: dict, out: str) -> None:
    from nativeextractor_spark.io import write_table
    from nativeextractor_spark.operators.chunked import extract_occurrences_chunked
    from nativeextractor_spark.operators.sinks import format_occurrences

    pages = spark.read.parquet(os.path.join(inp["dir"], "pages.parquet"))
    occ = extract_occurrences_chunked(
        pages, ngrep_miners(), chunk_chars=NGREP_CHUNK_CHARS, overlap_chars=NGREP_OVERLAP
    )
    write_table(format_occurrences(occ, "json"), out)


def ngrep_check(spark, inp: dict, out: str, _result=None) -> tuple[dict, list[str]]:
    """Digest, plus the chunked scan against the whole-document scan on a
    200k-character prefix of the stream (occurrences ending a full overlap
    before the cut cannot be affected by it)."""
    from nativeextractor_spark.operators.extract import extract_occurrences

    lines = spark.read.parquet(out)
    facts = {"occurrences": digest(lines)}
    text = pq.read_table(os.path.join(inp["dir"], "pages.parquet")).column("text")[0].as_py()
    prefix = text[:200_000]
    limit = len(prefix.encode("utf-8")) - NGREP_OVERLAP
    ref = extract_occurrences(
        spark.createDataFrame([("stream://0", prefix)], "url string, text string"),
        ngrep_miners(),
    )
    fields = ["pos", "len", "label", "str"]
    want = {
        tuple(r) for r in ref.where(F.col("pos") + F.col("len") <= limit).select(*fields).collect()
    }
    got = {
        (o["pos"], o["len"], o["label"], o["str"])
        for o in (json.loads(r.line) for r in lines.select("line").collect())
        if o["pos"] + o["len"] <= limit
    }
    errors = [] if want == got else [
        f"chunked scan differs from whole-document scan: {len(want - got)} missing, "
        f"{len(got - want)} extra"
    ]
    if not want:
        errors.append("reference scan found no occurrences")
    return facts, errors


def ngrep_sweep(tr, spark, inp: dict, work: str) -> None:
    from nativeextractor_spark.io import write_table
    from nativeextractor_spark.operators.chunked import (
        chunk_pages,
        extract_occurrences_from_chunks,
    )
    from nativeextractor_spark.operators.sinks import format_occurrences

    pages = _ckpt(spark.read.parquet(os.path.join(inp["dir"], "pages.parquet")))
    chunks = tr.span(
        "chunked.chunk_pages",
        lambda: _ckpt(chunk_pages(pages, chunk_chars=NGREP_CHUNK_CHARS,
                                  overlap_chars=NGREP_OVERLAP)),
    )
    occ = tr.span(
        "chunked.extract_occurrences_from_chunks",
        lambda: _ckpt(extract_occurrences_from_chunks(
            chunks, ngrep_miners(), overlap_chars=NGREP_OVERLAP)),
    )
    tr.span(
        "sinks.format_occurrences",
        lambda: write_table(format_occurrences(occ, "json"),
                            fresh_dir(os.path.join(work, "ngrep_layers"))),
        rows=None,
    )
