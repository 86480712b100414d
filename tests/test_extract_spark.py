"""End-to-end Spark tests: pages DataFrame → occurrences DataFrame."""

import pytest

from nativeextractor_spark.miners import (
    AliasDict,
    EmailMiner,
    GazetteerMiner,
    GlobMiner,
    UrlMiner,
)
from nativeextractor_spark.operators import (
    extract_occurrences,
    filter_enclosed_df,
    sort_occurrences_df,
)

FIXTURE_TEST_TXT = (
    "4444222244442222\n"
    "4444.2222.4444.2222\n"
    "řřřř blah@seznam.com;+čččč\n"
    "\n"
    "a http://www.root.cz?limit=20 xxd\n"
    "\n"
)


@pytest.fixture(scope="module")
def pages(spark):
    rows = [
        ("fixture://test.txt", FIXTURE_TEST_TXT),
        ("fixture://null.txt", ""),
        ("fixture://none.txt", None),
        ("fixture://glob/exact", "abc abcdef abc"),
    ]
    return spark.createDataFrame(rows, "url string, text string")


def test_extract_fixture_occurrences(spark, pages):
    """Empty and NULL texts yield no occurrences and do not disturb the
    batch-amortized miners (the gazetteer probes once per batch)."""
    gaz = GazetteerMiner(AliasDict.from_aliases(["xxd", "abcdef"]))
    occ = extract_occurrences(pages, [EmailMiner(), UrlMiner(), gaz])
    rows = {(r.url, r.label, r.str, r.pos, r.upos) for r in occ.collect()}
    assert ("fixture://test.txt", "EMAIL", "blah@seznam.com", 46, 42) in rows
    assert any(r[1] == "URL" and r[2] == "http://www.root.cz?limit=20" for r in rows)
    assert ("fixture://test.txt", "NER", "xxd", 103, 95) in rows
    assert ("fixture://glob/exact", "NER", "abcdef", 4, 4) in rows
    assert not any(r[0] in ("fixture://null.txt", "fixture://none.txt") for r in rows)


def test_extract_schema_and_sort(spark, pages):
    occ = extract_occurrences(pages, [GlobMiner("abc"), GlobMiner("abc abcdef abc")])
    assert [f.name for f in occ.schema.fields] == [
        "url", "pos", "upos", "len", "ulen", "label", "prob", "str",
    ]
    got = [
        (r.pos, r.len)
        for r in occ.filter("url = 'fixture://glob/exact'")
        .orderBy("pos", "len")
        .collect()
    ]
    # 'abc'@0 and 'abc'@11 are enclosed in the full-line glob → filtered
    assert got == [(0, 14)]


def test_df_level_enclosed_filter_matches_kernel(spark, pages):
    raw = extract_occurrences(
        pages,
        [GlobMiner("abc"), GlobMiner("abc abcdef abc")],
        no_enclosed=False,
    )
    filt = filter_enclosed_df(raw)
    kernel = extract_occurrences(
        pages, [GlobMiner("abc"), GlobMiner("abc abcdef abc")], no_enclosed=True
    )
    assert sorted(map(tuple, filt.collect())) == sorted(map(tuple, kernel.collect()))


def test_sort_df_rank(spark, pages):
    occ = extract_occurrences(pages, [EmailMiner(), UrlMiner()], no_enclosed=False)
    ranked = sort_occurrences_df(occ)
    rows = ranked.filter("url = 'fixture://test.txt'").orderBy("rank").collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    assert rows == sorted(rows, key=lambda r: (r.pos, r.len, r.label))


def test_no_enclosed_plan_has_no_shuffle(spark, pages):
    """The canonical extract path must not shuffle (scale invariant)."""
    occ = extract_occurrences(pages, [EmailMiner()])
    plan = occ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
