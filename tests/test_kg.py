"""KG stage tests: components, canonicalization, triples, linking, pipeline."""

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from nativeextractor_spark.datagen import build_alias_df, generate_pages_df
from nativeextractor_spark.kg import (
    canonicalize_surfaces,
    connected_components,
    extract_triples,
    link_mentions,
)
from nativeextractor_spark.kg.triples import document_triples, weight_triples
from nativeextractor_spark.miners import AliasDict, EmailMiner, GazetteerMiner


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "u long, v long"
    )
    got = {
        (r.node, r.component) for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20)}


def test_connected_components_chain_converges(spark):
    n = 40  # path graph: worst case for naive propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "u long, v long"
    )
    comps = connected_components(edges)
    assert comps.select("component").distinct().count() == 1
    assert comps.count() == n + 1


def test_canonicalize_groups_near_duplicates(spark):
    surfaces = spark.createDataFrame(
        [("Acme Corporation",), ("acme corporation",), ("ACME Corporation",),
         ("Globex Industries",), ("globex  industries",), ("Zebra",)],
        "surface string",
    )
    out = canonicalize_surfaces(surfaces).collect()
    by_surface = {r.surface: r.canonical_id for r in out}
    # case/whitespace variants normalize identically → same id trivially
    assert by_surface["Acme Corporation"] == by_surface["acme corporation"]
    assert by_surface["Globex Industries"] == by_surface["globex  industries"]
    assert by_surface["Zebra"] not in (
        by_surface["Acme Corporation"], by_surface["Globex Industries"],
    )


def test_canonicalize_fuzzy_variants(spark):
    surfaces = spark.createDataFrame(
        [("Antonín Dvořák",), ("Antonin Dvorak something",), ("Antonín Dvořák Jr",),
         ("Completely Different",)],
        "surface string",
    )
    out = canonicalize_surfaces(surfaces, jaccard_threshold=0.4).collect()
    ids = {r.surface: r.canonical_id for r in out}
    assert ids["Antonín Dvořák"] == ids["Antonín Dvořák Jr"]
    assert ids["Completely Different"] != ids["Antonín Dvořák"]


def test_canonicalize_jaccard_over_characters(spark):
    """Shingles are character 3-grams, not UTF-8 byte 3-grams. The pair's
    char Jaccard is 7/12 ≈ 0.583; over bytes each accented letter adds
    shingles and it is 11/17 ≈ 0.647. So at τ = 0.6 the pair stays apart
    and at τ = 0.55 it merges."""
    surfaces = spark.createDataFrame(
        [("tomáš černý",), ("točmáš černý",)], "surface string"
    )

    def n_groups(tau):
        out = canonicalize_surfaces(surfaces, jaccard_threshold=tau)
        return len({r.canonical_id for r in out.collect()})

    assert n_groups(0.6) == 2
    assert n_groups(0.55) == 1


def test_packages_import_in_any_order():
    """kg.canonicalize uses textops.dedup, which uses kg.skew: a Python
    worker that imports textops first must not hit a circular import."""
    for first in ("textops", "textops.dedup", "kg", "kg.canonicalize"):
        subprocess.run(
            [sys.executable, "-c", f"import nativeextractor_spark.{first}"],
            check=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )


def test_document_triples_sentence_window():
    gaz = GazetteerMiner(AliasDict.from_aliases(["Alice", "Bob", "Carol"]), "PER")
    text = "Alice works with Bob. Carol sleeps. Alice ignores nothing."
    triples = document_triples("u1", text, [gaz, EmailMiner()])
    assert len(triples) == 1
    subj, st, pred, obj, ot, url, ps, po, prob = triples[0]
    # NER surface is the full non-space token incl. trailing '.' (ner.c:26)
    assert (subj, pred, obj) == ("Alice", "works with", "Bob.")
    assert st == ot == "PER" and url == "u1" and ps == 0 and prob == 1.0


def test_document_triples_cross_sentence_blocked():
    gaz = GazetteerMiner(AliasDict.from_aliases(["Alice", "Bob"]), "PER")
    triples = document_triples("u", "Alice runs. Bob walks.", [gaz])
    assert triples == []


def test_extract_triples_spark_and_weights(spark):
    pages = spark.createDataFrame(
        [("u1", "Alice works with Bob every day. Nothing here."),
         ("u2", "Alice works with Bob again today.")],
        "url string, text string",
    )
    gaz = GazetteerMiner(AliasDict.from_aliases(["Alice", "Bob"]), "PER")
    t = extract_triples(pages, [gaz])
    rows = t.collect()
    assert {(r.subj, r.obj) for r in rows} == {("Alice", "Bob")}
    w = weight_triples(t).collect()
    assert {(r.pred, r.weight) for r in w} == {("works with", 2)}


def test_link_mentions_broadcast(spark):
    alias_df = build_alias_df(spark, n_entities=50)
    some = alias_df.limit(3).collect()
    occ = spark.createDataFrame(
        [("u", a.alias) for a in some] + [("u", "unknown-surface")],
        "url string, str string",
    )
    linked = link_mentions(occ, alias_df).collect()
    by_str = {r.str: r for r in linked}
    for a in some:
        assert by_str[a.alias].entity_id == a.entity_id
        assert by_str[a.alias].canonical == a.canonical
    assert by_str["unknown-surface"].entity_id is None


def test_link_plan_is_broadcast_join(spark):
    alias_df = build_alias_df(spark, n_entities=50)
    occ = spark.createDataFrame([("u", "x")], "url string, str string")
    plan = link_mentions(occ, alias_df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_generate_pages_deterministic(spark):
    a = generate_pages_df(spark, n_pages=50).orderBy("url").collect()
    b = generate_pages_df(spark, n_pages=50).orderBy("url").collect()
    assert a == b
    assert any(r.url.startswith("fixture://") for r in a)
    urls = [r.url for r in a if not r.url.startswith("fixture://")]
    assert len(urls) == 50
    hot = sum("popular.example" in u or "news.example" in u or "portal" in u for u in urls)
    assert hot > 0  # skewed domains present


def test_cc_driver_and_distributed_paths_agree(spark):
    """Size-adaptive CC: the driver union-find (small graphs) and the
    large-star/small-star rounds must produce identical memberships."""
    import random

    from nativeextractor_spark.kg.components import connected_components

    rng = random.Random(9)
    edges = [(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(120)]
    edges += [(200, 200), (300, 301)]
    df = spark.createDataFrame(edges, "u long, v long")
    small = {
        (r.node, r.component)
        for r in connected_components(df, driver_threshold=10**6).collect()
    }
    big = {
        (r.node, r.component)
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert small == big and len(small) > 0


def test_salted_collect_set_equals_direct(spark):
    """Two-phase salted collect_set == direct collect_set (set semantics),
    with a deliberately hot key."""
    from pyspark.sql import functions as F

    from nativeextractor_spark.kg.skew import salted_collect_set

    rows = [("hot", i % 37) for i in range(5000)] + [
        ("cold%d" % i, i) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "k string, v long")
    salted = {
        r.k: frozenset(r.values)
        for r in salted_collect_set(df, ["k"], "v").collect()
    }
    direct = {
        r.k: frozenset(r.vs)
        for r in df.groupBy("k").agg(F.collect_set("v").alias("vs")).collect()
    }
    assert salted == direct
    assert len(salted["hot"]) == 37
