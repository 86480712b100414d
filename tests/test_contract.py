"""Driver-contract smoke tests (full oracle comparison lives in
tools/check_contract.py and runs at sf0.01; here we validate shape/wiring
at sf0.001 cheaply)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert {"subj", "pred", "obj", "weight"}.issubset(set(df.columns))


def test_oracle_keys_subset_of_queries():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every query is oracle-checked (r2: no rows-only ops remain)
    assert set(qs) - set(oracles) == set()


@pytest.mark.parametrize(
    "name",
    [
        "fixture_entities",
        "enclosed_filter",
        "sort_rank",
        "cc_components",
        # sole-engine operators: the SQL oracle is their independent check
        "gopher_repetition",
        "gopher_repetition_span",
        "dup_span_stats",
        "dup_span_removal",
        "simhash",
        # every bucket-capped pair generator runs on kg.skew.banded_self_join
        "lsh_dup_pairs",
        "simhash_dup_pairs",
        "canonical_groups",
        "embedding_dup_pairs",
    ],
)
def test_selected_queries_match_oracle_at_sf0001(spark, name):
    import duckdb

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__))))
    from tools.check_contract import TABLES, normalize

    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    df = entry_mod.queries()[name](spark, SF_DIR)
    res = con.execute(entry_mod.oracle_sql()[name])
    s_norm, s_cols = normalize([tuple(r) for r in df.collect()], df.columns)
    o_norm, o_cols = normalize(res.fetchall(), [d[0] for d in res.description])
    assert s_cols == o_cols
    assert s_norm == o_norm


def test_documents_corpus_invariant(spark):
    """The glob/NER/lang_id oracles tokenize with string_split(text, ' '),
    which equals the miner delimiter class ONLY while documents.text is
    single-spaced lowercase [a-z ]. Pin that invariant (at both shipped SFs)
    so corpus drift fails loudly here instead of silently in the oracle gate.
    """
    from pyspark.sql import functions as F

    for sf in ("sf0.001", "sf0.01"):
        docs = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
        bad = docs.where(
            ~F.col("text").rlike("^[a-z]+( [a-z]+)*$")
        ).count()
        assert bad == 0, f"{sf}: {bad} documents violate the [a-z ] invariant"
