"""Driver-contract query registry: Spark queries + matching DuckDB oracle SQL.

Every implemented operator from SURVEY.md §2 (plus the training-data ops) has
an entry here: ``QUERIES[name]`` is a ``(spark, sf_dir) -> DataFrame``
callable and ``ORACLES[name]`` the ANSI-SQL equivalent DuckDB runs on the
same parquet tables. Column names/aliases match exactly; all floating-point
outputs are rounded identically on both sides; aggregations that would be
float-order-sensitive are computed in DECIMAL.

Queries over reference fixture texts embed the texts as literals on the Spark
side and as VALUES in the oracle; their expected outputs are the reference's
own test expectations (FIXTURES.md §2 / /root/reference/tests/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nativeextractor_spark.datagen.pages import FIXTURE_TEXTS
from nativeextractor_spark.kg.canonicalize import canonicalize_surfaces
from nativeextractor_spark.kg.components import connected_components
from nativeextractor_spark.kg.triples import extract_triples
from nativeextractor_spark.miners import (
    AliasDict,
    DateMiner,
    EmailMiner,
    GazetteerMiner,
    GlobMiner,
    UrlMiner,
)
from nativeextractor_spark.miners.builtin import TelephoneMiner
from nativeextractor_spark.operators.extract import extract_occurrences
from nativeextractor_spark.operators.relational import (
    filter_enclosed_df,
    sort_occurrences_df,
)
from nativeextractor_spark.textops import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    dedup_exact,
    fingerprint,
    language_id,
    lsh_duplicate_pairs,
    minhash_bands,
    ngram_jaccard_pairs,
    quality_scores,
    simhash,
    token_counts,
)

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


_NER_DICT = [
    "spark", "window", "stream", "batch", "hash",
    "join", "scan", "sort", "merge", "table",
]

_LINK_DICT = [
    ("spark", 1, "Apache Spark"),
    ("window", 2, "Window Fn"),
    ("stream", 3, "Streaming"),
    ("batch", 4, "Batching"),
    ("merge", 5, "Merge Op"),
]

# literal occurrence table used by the enclosed-filter / sort operator checks:
# the extractor.c:131-139 doc example + identical spans + the enclosed.c
# fixture spans
_OCC_LITERALS = [
    ("d1", 0, 10, "A"), ("d1", 0, 4, "B"), ("d1", 5, 4, "C"),
    ("d1", 2, 7, "D"), ("d1", 3, 10, "E"),
    ("d2", 1, 3, "X"), ("d2", 1, 3, "Y"),  # identical spans, both kept
    ("d3", 0, 7, "abc def"), ("d3", 0, 3, "abc"), ("d3", 4, 3, "def"),
]

_CC_EDGES = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20), (11, 12)]

_CANON_SURFACES = [
    "Acme Corp", "acme corp", "ACME  Corp",
    "Beta LLC", "beta llc", "Gamma Industries",
]

_TRIPLE_PAGES = [
    ("t1", "Alice met Bob in Prague today. Nothing else happened."),
    ("t2", "Alice met Bob again. Prague stayed quiet."),
]
_TRIPLE_DICT = ["Alice", "Bob", "Prague"]

# golden entity occurrences on the reference fixture pages —
# EMAIL/URL/TEL per /root/reference/tests expectations (FIXTURES.md §2),
# plus the TEL_NO match the reference regex makes on the 16-digit line
_FIXTURE_ENTITY_GOLDEN = [
    ("fixture://test.txt", "EMAIL", "blah@seznam.com"),
    ("fixture://test.txt", "URL", "http://www.root.cz?limit=20"),
    ("fixture://test.txt", "TEL_NO", "444422224444"),
    ("fixture://test_glob.txt", "EMAIL", "name@domain.com"),
    ("fixture://regex_fixture_0.txt", "EMAIL", "test@gmail.com"),
    ("fixture://regex_fixture_0.txt", "TEL_NO", "+919367788755"),
    ("fixture://glob/qmark2", "URL", "http://2432.spongedata.cz"),
]

# glob golden counts from /root/reference/tests/glob.c (see tests/test_glob.py)
_GLOB_GOLDEN = [
    ("fixture://glob/exact", "abc", 2),
    ("fixture://glob/exact", "abcdef", 1),
    ("fixture://glob/exact", "def", 0),
    ("fixture://glob/exact", "abc abcdef abc", 1),
    ("fixture://glob/range", "[bclm]at", 4),
    ("fixture://glob/qmark", "l?t", 3),
    ("fixture://glob/qmark", "?a?", 5),
    ("fixture://glob/star", "*", 26),
    ("fixture://glob/star", "*kle", 2),
    ("fixture://glob/star", "T*kle", 2),
    ("fixture://glob/star", "*i*k*", 2),
    ("fixture://glob/escape", "\\a\\d\\e", 1),
    ("fixture://glob/escape", "\\[abc\\]de", 1),
    ("fixture://glob/escape2", "[\\[\\]\\*\\?]", 1),
    ("fixture://glob/mixed1", "[pqrstabc]?*l", 1),
    ("fixture://glob/mixed2", "*[abc]*[a-f]*[1-9]*", 1),
]


def _fixture_pages_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(u, t) for u, t in FIXTURE_TEXTS.items()], "url string, text string"
    )


def _occ_literals_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        _OCC_LITERALS, "url string, pos long, len int, label string"
    )


def _occ_literals_sql() -> str:
    vals = ", ".join(
        f"({_sql_str(u)}, {p}, {l}, {_sql_str(lab)})"
        for u, p, l, lab in _OCC_LITERALS
    )
    return f"(VALUES {vals}) AS occ(url, pos, len, label)"


# --------------------------------------------------------------------------
# miner / occurrence queries
# --------------------------------------------------------------------------
#
# CORPUS INVARIANT (load-bearing for the oracles below): the driver-generated
# documents.parquet `text` is lowercase [a-z ] with single spaces and no
# leading/trailing space, so the miner delimiter class (space ∪ punct ∪
# cntrl) coincides with a single literal space and DuckDB string_split(text,
# ' ') tokenizes identically to the extractor scan. Asserted by
# tests/test_contract.py::test_documents_corpus_invariant — if the generator
# ever emits punctuation/tabs/newlines, that test fails before the oracle
# gate silently diverges. Fixture texts with punctuation enter as VALUES
# literals instead.


def q_glob_token_the(spark, sf_dir):
    occ = extract_occurrences(
        _docs(spark, sf_dir), [GlobMiner("the")], key_col="doc_id"
    )
    return (
        occ.groupBy(F.col("doc_id").cast("long").alias("doc_id"))
        .agg(F.count("*").alias("n_matches"))
    )


O_GLOB_TOKEN_THE = """
SELECT doc_id, n_matches FROM (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> lower(t) = 'the')) AS n_matches
  FROM documents
) WHERE n_matches > 0
"""


def q_glob_star_sk(spark, sf_dir):
    occ = extract_occurrences(
        _docs(spark, sf_dir), [GlobMiner("s*k")], key_col="doc_id"
    )
    return (
        occ.groupBy(F.col("doc_id").cast("long").alias("doc_id"))
        .agg(F.count("*").alias("n_matches"))
    )


O_GLOB_STAR_SK = """
SELECT doc_id, n_matches FROM (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '),
             t -> regexp_full_match(t, 's.*k'))) AS n_matches
  FROM documents
) WHERE n_matches > 0
"""


def q_glob_star_first(spark, sf_dir):
    """Star-first glob ``*e`` on the ``regex`` engine (one ``finditer``
    over ``glob_to_regex``, whose token-start anchor reproduces the
    machine's guard — reference golden class tests/glob.c:269-280,
    routed by ``star_first_safe``). Five distinct sf0.01 tokens end
    in "e", and "merge" also has an inner "e", so the row checks that such
    a token is one match that runs to its last "e"."""
    occ = extract_occurrences(
        _docs(spark, sf_dir), [GlobMiner("*e")], key_col="doc_id"
    )
    return (
        occ.groupBy(F.col("doc_id").cast("long").alias("doc_id"))
        .agg(F.count("*").alias("n_matches"))
    )


# documents text is space-separated delimiter-free words, where star-first
# machine semantics reduce to whole-token regex: '*e' ≡ tokens ending in e
O_GLOB_STAR_FIRST = """
SELECT doc_id, n_matches FROM (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '),
             t -> regexp_full_match(t, '.*e'))) AS n_matches
  FROM documents
) WHERE n_matches > 0
"""


def q_glob_multi_star(spark, sf_dir):
    """Multi-star trailing glob ``*in*`` on the ``regex`` engine, routed
    by ``star_first_safe`` (reference golden class tests/glob.c:269-280
    ``*i*k*``). The 2-star
    star-first shape provably never crosses a token boundary (the leading
    star starts on a non-delimiter, the trailing star matches empty at
    the token-end delimiter), so on the single-spaced documents corpus it
    reduces to whole tokens containing the segment — the oracle below.
    Globs with >= 2 INNER segments can cross token boundaries (an inner
    star starting on a delimiter entry-skips into the next token) and are
    pinned by the naive-walk property tests instead."""
    occ = extract_occurrences(
        _docs(spark, sf_dir), [GlobMiner("*in*")], key_col="doc_id"
    )
    return (
        occ.groupBy(F.col("doc_id").cast("long").alias("doc_id"))
        .agg(F.count("*").alias("n_matches"))
    )


O_GLOB_MULTI_STAR = """
SELECT doc_id, n_matches FROM (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '),
             t -> contains(t, 'in'))) AS n_matches
  FROM documents
) WHERE n_matches > 0
"""


def q_ner_prefix_match(spark, sf_dir):
    gaz = GazetteerMiner(AliasDict.from_aliases(_NER_DICT), label="NER")
    occ = extract_occurrences(_docs(spark, sf_dir), [gaz], key_col="doc_id")
    return (
        occ.groupBy(F.col("doc_id").cast("long").alias("doc_id"))
        .agg(F.count("*").alias("n_ner"))
    )


_NER_LIST_SQL = "[" + ", ".join(_sql_str(w) for w in _NER_DICT) + "]"

# token matches iff ∃key: equal prefixes of length ceil(0.75*len(token))
# (equivalent to the reference longest-prefix-ratio rule for ASCII text)
O_NER_PREFIX_MATCH = f"""
SELECT doc_id, n_ner FROM (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '),
             t -> len(list_filter({_NER_LIST_SQL},
                  k -> substring(t, 1, cast(ceil(0.75 * length(t)) AS int))
                     = substring(k, 1, cast(ceil(0.75 * length(t)) AS int)))) > 0
         )) AS n_ner
  FROM documents
) WHERE n_ner > 0
"""


def q_fixture_entities(spark, sf_dir):
    pages = _fixture_pages_df(spark)
    occ = extract_occurrences(
        pages, [EmailMiner(), UrlMiner(), DateMiner(), TelephoneMiner()]
    )
    return occ.select("url", "label", "str")


O_FIXTURE_ENTITIES = "SELECT * FROM (VALUES " + ", ".join(
    f"({_sql_str(u)}, {_sql_str(l)}, {_sql_str(s)})"
    for u, l, s in _FIXTURE_ENTITY_GOLDEN
) + ") AS t(url, label, str)"


def q_fixture_glob_counts(spark, sf_dir):
    globs = sorted({g for _, g, _ in _GLOB_GOLDEN})
    miners = [GlobMiner(g, label=g) for g in globs]
    pages = _fixture_pages_df(spark)
    occ = extract_occurrences(pages, miners, no_enclosed=False)
    counts = occ.groupBy("url", "label").agg(F.count("*").alias("_n"))
    pairs = spark.createDataFrame(
        [(u, g) for u, g, _ in _GLOB_GOLDEN], "url string, pattern string"
    )
    return (
        pairs.join(
            counts,
            (pairs["url"] == counts["url"]) & (pairs["pattern"] == counts["label"]),
            "left",
        )
        .select(
            pairs["url"],
            pairs["pattern"],
            F.coalesce("_n", F.lit(0)).alias("n_matches"),
        )
    )


# NB: "glob" is a reserved word in DuckDB → column is named "pattern"
O_FIXTURE_GLOB_COUNTS = "SELECT * FROM (VALUES " + ", ".join(
    f"({_sql_str(u)}, {_sql_str(g)}, {n})" for u, g, n in _GLOB_GOLDEN
) + ") AS t(url, pattern, n_matches)"


# run-to-stuck DFA engine outputs on fixture texts; the regex_fixture_0 rows
# are the reference's own expectations (tests/regex_miner.c:71-91), the rest
# follow from the same regexes under the reference's generated-DFA semantics
_DFA_GOLDEN = [
    ("fixture://test.txt", "EMAIL_DFA", "blah@seznam.com;+čččč"),
    ("fixture://test.txt", "TEL_DFA", "444422224444"),
    ("fixture://regex_fixture_0.txt", "EMAIL_DFA", "test@gmail.com"),
    ("fixture://regex_fixture_0.txt", "TEL_DFA", "+919367788755"),
    ("fixture://test_glob.txt", "EMAIL_DFA", "name@domain.com"),
]


def q_regex_dfa_fixture(spark, sf_dir):
    from nativeextractor_spark.miners.regex_dfa import DfaMiner

    urls = {u for u, _, _ in _DFA_GOLDEN}
    pages = spark.createDataFrame(
        [(u, FIXTURE_TEXTS[u]) for u in sorted(urls)], "url string, text string"
    )
    miners = [
        DfaMiner("EMAIL_DFA", r"[^@ \t\r\n]+@[^@ \t\r\n]+\.[^@ \t\r\n]+"),
        DfaMiner("TEL_DFA", r"[+]?[(]?[0-9]{3}[)]?[-\s.]?[0-9]{3}[-\s.]?[0-9]{4,6}"),
    ]
    occ = extract_occurrences(pages, miners, no_enclosed=False)
    return occ.select("url", "label", "str")


O_REGEX_DFA_FIXTURE = "SELECT * FROM (VALUES " + ", ".join(
    f"({_sql_str(u)}, {_sql_str(l)}, {_sql_str(s)})" for u, l, s in _DFA_GOLDEN
) + ") AS t(url, label, str)"


_DATE_PAGES = [
    ("d1", "meeting on 2024-01-15 and again 3/4/99 ok"),
    ("d2", "born March 5, 2024 maybe Mar. 31st, 1999 end"),
    ("d3", "versions 1.2.3 and 12345-67-89 are not dates"),
]
# hand-verified DATE miner outputs: ISO, slashed, month-name (with ordinal
# suffix and abbreviation dot); d3 is all negatives (digit-boundary guards)
_DATE_GOLDEN = [
    ("d1", "DATE", "2024-01-15"),
    ("d1", "DATE", "3/4/99"),
    ("d2", "DATE", "March 5, 2024"),
    ("d2", "DATE", "Mar. 31st, 1999"),
]


def q_date_fixture(spark, sf_dir):
    pages = spark.createDataFrame(_DATE_PAGES, "url string, text string")
    occ = extract_occurrences(pages, [DateMiner()], no_enclosed=False)
    return occ.select("url", "label", "str")


_PERSON_ORG_PAGES = [
    ("p1", "Alice Johnson met Bob T. Stone at Acme Widget Corp yesterday."),
    ("p2", "Report by Maria Garcia Lopez for Globex Industries."),
    ("p3", "lowercase john smith and SHOUTING MARY JONES never match"),
]
_PERSON_ORG_GOLDEN = [
    ("p1", "PER", "Alice Johnson"),
    ("p1", "PER", "Bob T. Stone"),
    ("p1", "ORG", "Acme Widget Corp"),
    ("p2", "PER", "Maria Garcia Lopez"),
    ("p2", "ORG", "Globex Industries"),
]


def q_person_org_fixture(spark, sf_dir):
    from nativeextractor_spark.miners.builtin import OrgNameMiner, PersonNameMiner

    pages = spark.createDataFrame(_PERSON_ORG_PAGES, "url string, text string")
    occ = extract_occurrences(
        pages, [PersonNameMiner(), OrgNameMiner()], no_enclosed=False
    )
    return occ.select("url", "label", "str")


O_PERSON_ORG_FIXTURE = "SELECT * FROM (VALUES " + ", ".join(
    f"({_sql_str(u)}, {_sql_str(l)}, {_sql_str(s)})"
    for u, l, s in _PERSON_ORG_GOLDEN
) + ") AS t(url, label, str)"


O_DATE_FIXTURE = "SELECT * FROM (VALUES " + ", ".join(
    f"({_sql_str(u)}, {_sql_str(l)}, {_sql_str(s)})" for u, l, s in _DATE_GOLDEN
) + ") AS t(url, label, str)"


def q_enclosed_filter(spark, sf_dir):
    occ = _occ_literals_df(spark)
    return filter_enclosed_df(occ).select("url", "pos", "len", "label")


O_ENCLOSED_FILTER = f"""
WITH occ AS (SELECT * FROM {_occ_literals_sql()}),
w AS (
  SELECT url, pos, len, label, pos + len AS e,
         max(pos + len) OVER (PARTITION BY url ORDER BY pos
             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max,
         max(pos + len) OVER (PARTITION BY url, pos) AS same_max
  FROM occ
)
SELECT url, pos, len, label FROM w
WHERE NOT (coalesce(prev_max, -1) >= e OR same_max > e)
"""


def q_sort_rank(spark, sf_dir):
    occ = _occ_literals_df(spark)
    return sort_occurrences_df(occ).select("url", "pos", "len", "label", "rank")


O_SORT_RANK = f"""
SELECT url, pos, len, label,
       row_number() OVER (PARTITION BY url ORDER BY pos, len, label) AS rank
FROM {_occ_literals_sql()}
"""


def q_link_entities(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    dict_df = spark.createDataFrame(
        _LINK_DICT, "alias string, entity_id long, canonical string"
    )
    tokens = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    return (
        tokens.join(F.broadcast(dict_df), tokens["tok"] == dict_df["alias"])
        .groupBy("entity_id", "canonical")
        .agg(F.count("*").alias("n_mentions"))
    )


_LINK_VALUES = ", ".join(
    f"({_sql_str(a)}, {e}, {_sql_str(c)})" for a, e, c in _LINK_DICT
)
O_LINK_ENTITIES = f"""
WITH dict(alias, entity_id, canonical) AS (VALUES {_LINK_VALUES}),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
SELECT entity_id, canonical, count(*) AS n_mentions
FROM toks JOIN dict ON toks.tok = dict.alias
GROUP BY entity_id, canonical
"""


def q_triples_fixture(spark, sf_dir):
    pages = spark.createDataFrame(_TRIPLE_PAGES, "url string, text string")
    gaz = GazetteerMiner(AliasDict.from_aliases(_TRIPLE_DICT), label="NER")
    t = extract_triples(pages, [gaz])
    return t.select("subj", "pred", "obj", "url")


def _triples_golden_rows():
    """Computed once at import from the single-document contract (pure
    Python, no Spark) — the oracle literal for q_triples_fixture."""
    from nativeextractor_spark.kg.triples import document_triples

    gaz = GazetteerMiner(AliasDict.from_aliases(_TRIPLE_DICT), label="NER")
    rows = []
    for url, text in _TRIPLE_PAGES:
        for subj, _, pred, obj, _, u, _, _, _ in document_triples(url, text, [gaz]):
            rows.append((subj, pred, obj, u))
    return rows


def _o_triples_fixture() -> str:
    return "SELECT * FROM (VALUES " + ", ".join(
        f"({_sql_str(s)}, {_sql_str(p)}, {_sql_str(o)}, {_sql_str(u)})"
        for s, p, o, u in _triples_golden_rows()
    ) + ") AS t(subj, pred, obj, url)"


def q_triple_weights_fixture(spark, sf_dir):
    """Pins the weighting stage (map-side partial agg over triples): count,
    min prob, distinct-url support per (subj, pred, obj)."""
    from nativeextractor_spark.kg.triples import weight_triples

    pages = spark.createDataFrame(_TRIPLE_PAGES, "url string, text string")
    gaz = GazetteerMiner(AliasDict.from_aliases(_TRIPLE_DICT), label="NER")
    return weight_triples(extract_triples(pages, [gaz])).select(
        "subj", "pred", "obj", "weight", "min_prob", "n_urls"
    )


def _o_triple_weights_fixture() -> str:
    """GROUP BY over the same pure-Python golden rows (with prob/url kept),
    independently aggregated in DuckDB."""
    from nativeextractor_spark.kg.triples import document_triples

    gaz = GazetteerMiner(AliasDict.from_aliases(_TRIPLE_DICT), label="NER")
    vals = []
    for url, text in _TRIPLE_PAGES:
        for s, _, p, o, _, u, _, _, prob in document_triples(url, text, [gaz]):
            vals.append(
                f"({_sql_str(s)}, {_sql_str(p)}, {_sql_str(o)},"
                f" {_sql_str(u)}, {prob!r}::DOUBLE)"
            )
    return (
        "WITH t(subj, pred, obj, url, prob) AS (VALUES "
        + ", ".join(vals)
        + ") SELECT subj, pred, obj, count(*) AS weight,"
        " min(prob) AS min_prob, count(DISTINCT url) AS n_urls"
        " FROM t GROUP BY subj, pred, obj"
    )


def q_cc_components(spark, sf_dir):
    edges = spark.createDataFrame(_CC_EDGES, "u long, v long")
    return connected_components(edges).select("node", "component")


_CC_VALUES = ", ".join(f"({u}, {v})" for u, v in _CC_EDGES)
O_CC_COMPONENTS = f"""
WITH RECURSIVE e(u, v) AS (VALUES {_CC_VALUES}),
nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
sym AS MATERIALIZED (SELECT u, v FROM e WHERE u <> v UNION SELECT v, u FROM e WHERE u <> v),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT s.u, reach.r FROM sym s JOIN reach ON s.v = reach.node
)
SELECT node, min(r) AS component FROM reach GROUP BY node
"""


def q_canonical_groups(spark, sf_dir):
    surfaces = spark.createDataFrame(
        [(s,) for s in _CANON_SURFACES], "surface string"
    )
    canon = canonicalize_surfaces(surfaces)
    rep = canon.groupBy("canonical_id").agg(F.min("surface").alias("rep"))
    return canon.join(rep, "canonical_id").select("surface", "rep")


_CANON_VALUES = ", ".join(f"({_sql_str(s)})" for s in _CANON_SURFACES)
O_CANONICAL_GROUPS = f"""
WITH s(surface) AS (VALUES {_CANON_VALUES}),
n AS (SELECT surface,
             regexp_replace(trim(lower(surface)), '\\s+', ' ', 'g') AS norm
      FROM s)
SELECT surface, min(surface) OVER (PARTITION BY norm) AS rep FROM n
"""


# --------------------------------------------------------------------------
# training-data ops
# --------------------------------------------------------------------------


def _docs_with_dups(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dups = docs.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return docs.unionByName(dups)


_DOCS_WITH_DUPS_SQL = """
(SELECT doc_id, text FROM documents
 UNION ALL
 SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50)
"""


def q_dedup_exact(spark, sf_dir):
    return dedup_exact(_docs_with_dups(spark, sf_dir))


O_DEDUP_EXACT = f"""
SELECT min(doc_id) AS doc_id, sha256(text) AS text_hash, count(*) AS group_size
FROM {_DOCS_WITH_DUPS_SQL} GROUP BY sha256(text)
"""


def q_minhash_bands(spark, sf_dir):
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 40)
    return minhash_bands(docs, num_hashes=4, k=5)


O_MINHASH_BANDS = """
WITH d AS (SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id < 40),
sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(t) - 4, 1) + 1),
                        i -> substring(t, cast(i AS int), 5)) AS shingles
  FROM d
),
b AS (SELECT doc_id, unnest([0, 1, 2, 3]) AS band, shingles FROM sh)
SELECT doc_id, band,
       list_min(list_transform(shingles,
                s -> md5(cast(band AS varchar) || s))) AS min_hash
FROM b
"""


def q_lsh_dup_pairs(spark, sf_dir):
    docs = _docs_with_dups(spark, sf_dir).where(
        (F.col("doc_id") % 100000) < 60
    )
    return lsh_duplicate_pairs(docs, num_hashes=4, min_shared_bands=2,
                               max_bucket=1000)


O_LSH_DUP_PAIRS = f"""
WITH d AS (SELECT doc_id, lower(text) AS t FROM {_DOCS_WITH_DUPS_SQL}
           WHERE doc_id % 100000 < 60),
sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(t) - 4, 1) + 1),
                        i -> substring(t, cast(i AS int), 5)) AS shingles
  FROM d
),
bands AS (
  SELECT doc_id, band,
         list_min(list_transform(shingles,
                  s -> md5(cast(band AS varchar) || s))) AS min_hash
  FROM (SELECT doc_id, unnest([0, 1, 2, 3]) AS band, shingles FROM sh)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_bands
FROM bands a JOIN bands b
  ON a.band = b.band AND a.min_hash = b.min_hash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2
"""


def q_ngram_jaccard(spark, sf_dir):
    docs = _docs_with_dups(spark, sf_dir).where(
        (F.col("doc_id") % 100000) < 60
    )
    return ngram_jaccard_pairs(docs, n=3, threshold=0.8, max_token_freq=10**9)


O_NGRAM_JACCARD = f"""
WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
           FROM {_DOCS_WITH_DUPS_SQL} WHERE doc_id % 100000 < 60),
g AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                          i -> array_to_string(list_slice(toks, i, i + 2), ' '))
         )) AS gram
  FROM d
),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(inter * 1.0 / (sa.n_grams + sb.n_grams - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * 1.0 / (sa.n_grams + sb.n_grams - inter) >= 0.8
"""


def q_simhash(spark, sf_dir):
    # md5 token-hash flavor: the 64-bit signature itself is recomputable in
    # ANSI SQL, so the oracle checks the full simhash value per document
    return simhash(
        _docs(spark, sf_dir).where(F.col("doc_id") < 100), token_hash="md5"
    )


O_SIMHASH = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS t
  FROM documents WHERE doc_id < 100
),
h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS hv FROM toks),
votes AS (
  SELECT doc_id, b AS bit,
         sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM h, (SELECT unnest(range(64)) AS b)
  GROUP BY doc_id, b
),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN vote > 0 THEN (1::HUGEINT << bit) ELSE 0::HUGEINT END) AS s
  FROM votes GROUP BY doc_id
)
SELECT doc_id,
       CASE WHEN s >= 9223372036854775808::HUGEINT
            THEN (s - 18446744073709551616::HUGEINT)::BIGINT
            ELSE s::BIGINT END AS simhash
FROM sig
"""


def q_simhash_dup_pairs(spark, sf_dir):
    from nativeextractor_spark.textops import simhash_duplicate_pairs

    return simhash_duplicate_pairs(
        _docs_with_dups(spark, sf_dir).where((F.col("doc_id") % 100000) < 60)
    )


O_SIMHASH_DUP_PAIRS = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS t
  FROM {_DOCS_WITH_DUPS_SQL} WHERE doc_id % 100000 < 60
),
h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS hv FROM toks),
votes AS (
  SELECT doc_id, b AS bit,
         sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM h, (SELECT unnest(range(64)) AS b)
  GROUP BY doc_id, b
),
sig0 AS (
  SELECT doc_id,
         sum(CASE WHEN vote > 0 THEN (1::HUGEINT << bit) ELSE 0::HUGEINT END) AS s
  FROM votes GROUP BY doc_id
),
sig AS (
  SELECT doc_id,
         CASE WHEN s >= 9223372036854775808::HUGEINT
              THEN (s - 18446744073709551616::HUGEINT)::BIGINT
              ELSE s::BIGINT END AS simhash
  FROM sig0
),
chunks AS (
  SELECT doc_id, simhash, c AS chunk_id,
         (simhash >> (c * 16)::int) & 65535 AS chunk
  FROM sig, (SELECT unnest(range(4)) AS c)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa,
                  b.doc_id AS doc_b, b.simhash AS sb
  FROM chunks a JOIN chunks b
    ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, cast(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= 3
"""


_ANN_K = 5  # top-k shared by all ANN contract queries and the recall metric


def q_ann_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_bruteforce(emb, queries, k=_ANN_K)


O_ANN_TOPK = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 3),
s AS (
  SELECT q.query_id, v.vec_id,
         round(list_dot_product(v.ve, q.qv)
               / (sqrt(list_dot_product(v.ve, v.ve))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
  FROM v CROSS JOIN q
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM s)
SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5
"""


def q_ann_lsh(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_lsh(emb, queries, k=_ANN_K, n_planes=6, dim=64)


def _ann_lsh_oracle_sql() -> str:
    """DuckDB recomputation of the LSH path: the deterministic hyperplanes
    (seed 42) are inlined as DOUBLE[] literals, buckets are sign bits, and
    the bucket join + exact cosine re-rank mirror cosine_topk_lsh."""
    from nativeextractor_spark.textops.similarity import _hyperplanes

    planes = _hyperplanes(dim=64, n_planes=6, seed=42)
    terms = []
    for p in range(planes.shape[0]):
        lit = "[" + ", ".join(repr(float(x)) for x in planes[p]) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product(ve, {lit}) >= 0"
            f" THEN {1 << p} ELSE 0 END)"
        )
    bucket = "(" + " + ".join(terms) + ")"
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
b AS (SELECT vec_id, ve, {bucket} AS bucket FROM v),
q AS (SELECT vec_id AS query_id, ve AS qv, bucket FROM b WHERE vec_id < 3),
s AS (
  SELECT q.query_id, b.vec_id,
         round(list_dot_product(b.ve, q.qv)
               / (sqrt(list_dot_product(b.ve, b.ve))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
  FROM b JOIN q ON b.bucket = q.bucket
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM s)
SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5
"""


O_ANN_LSH = _ann_lsh_oracle_sql()


def q_ann_ivf(spark, sf_dir):
    from nativeextractor_spark.textops.similarity import cosine_topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_ivf(emb, queries, k=_ANN_K, n_centroids=8, nprobe=2)


def _cos_sql(a, b):
    return (
        f"round(list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b}))), 6)"
    )


O_ANN_IVF = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
c AS (SELECT vec_id AS cent_id, ve AS cv FROM v WHERE vec_id < 8),
asg AS (
  SELECT vec_id, ve, cent_id AS cell FROM (
    SELECT v.vec_id, v.ve, c.cent_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_cos_sql('v.ve', 'c.cv')} DESC,
                                       c.cent_id) AS r
    FROM v CROSS JOIN c) WHERE r = 1
),
q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 3),
probes AS (
  SELECT query_id, qv, cent_id AS cell FROM (
    SELECT q.query_id, q.qv, c.cent_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_cos_sql('q.qv', 'c.cv')} DESC,
                                       c.cent_id) AS r
    FROM q CROSS JOIN c) WHERE r <= 2
),
s AS (
  SELECT p.query_id, a.vec_id, {_cos_sql('a.ve', 'p.qv')} AS cosine
  FROM asg a JOIN probes p ON a.cell = p.cell
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM s)
SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5
"""


def q_ann_ivf_kmeans(spark, sf_dir):
    """IVF with a TRAINED codebook (spherical Lloyd over the deterministic
    lowest-id sample) instead of the seed set — the production path."""
    from nativeextractor_spark.textops.similarity import cosine_topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_ivf(
        emb, queries, k=_ANN_K, n_centroids=8, nprobe=2, codebook="kmeans"
    )


def _oracle_lloyd_kmeans(
    X, n_centroids: int, n_iters: int = 5, seed: int = 42, init: str = "maxmin"
):
    """INDEPENDENT spherical-k-means reimplementation for the oracle side
    (ADVICE r3: a bug in textops.similarity.lloyd_kmeans must not pass both
    sides of the gate). Same deterministic spec — seeded RandomState init,
    float64, fixed iteration count, mean-then-renormalize — but written
    with a per-vector assignment loop and explicit accumulate/divide
    instead of the matrix argmax / members.mean path. Agreement is checked
    in tests/test_textops.py (centroids must round-trip identically through
    repr literals)."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    Xn = X / np.maximum(np.sqrt((X * X).sum(axis=1))[:, None], 1e-12)
    k = min(n_centroids, len(Xn))
    if init == "maxmin":
        # farthest-point traversal, loop-flavored (the Spark side keeps a
        # vectorized running-max; same spec: first point, then repeatedly
        # the point with the lowest best-cosine, first index on ties)
        C = np.zeros((k, Xn.shape[1]))
        C[0] = Xn[0]
        best = [float(x @ C[0]) for x in Xn]
        for j in range(1, k):
            nxt = min(range(len(Xn)), key=lambda i: (best[i], i))
            C[j] = Xn[nxt]
            for i in range(len(Xn)):
                d = float(Xn[i] @ C[j])
                if d > best[i]:
                    best[i] = d
    elif init == "random":
        rng = np.random.RandomState(seed)
        C = Xn[rng.choice(len(Xn), size=k, replace=False)].copy()
    else:
        raise ValueError(f"init must be 'maxmin' or 'random', got {init!r}")
    for _ in range(n_iters):
        assign = [int(max(range(k), key=lambda j: float(x @ C[j]))) for x in Xn]
        for j in range(k):
            members = [Xn[i] for i, a in enumerate(assign) if a == j]
            if members:
                acc = np.zeros(Xn.shape[1])
                for m in members:
                    acc = acc + m
                C[j] = acc / len(members)
        C = C / np.maximum(np.sqrt((C * C).sum(axis=1))[:, None], 1e-12)
    return [c.tolist() for c in C]


def _correctness_sf_dir() -> str:
    """Scale-factor directory the correctness gate runs at. The driver
    compares Spark vs DuckDB at sf0.01; data-dependent oracles (trained
    codebooks) must train on the SAME data the query trains on, so the
    path is derived from this one knob instead of being hardcoded
    (ADVICE r3). Override with SPARK_GRAFT_CORRECTNESS_SF_DIR when running
    the gate at another scale."""
    import os

    return os.environ.get(
        "SPARK_GRAFT_CORRECTNESS_SF_DIR", "/root/testdata/sf0.01"
    )


def _ann_ivf_kmeans_oracle_sql() -> str:
    """DuckDB recomputation of the trained-IVF path: the codebook is
    retrained INDEPENDENTLY from the parquet file (pyarrow read +
    :func:`_oracle_lloyd_kmeans`, a from-scratch Lloyd reimplementation)
    and inlined as literals, mirroring how the ann_lsh oracle inlines its
    seed-42 hyperplanes. The centroid literals are trained at the gate's
    scale factor (see :func:`_correctness_sf_dir`); the norms are inlined
    with the exact left-to-right fold the Spark plan uses."""
    import pyarrow.parquet as pq

    from nativeextractor_spark.textops.similarity import _seq_sq_norm

    sf_dir = _correctness_sf_dir()
    try:
        tbl = pq.read_table(
            f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
        )
    except Exception as e:  # pragma: no cover - sandbox always has sf0.01
        return f"SELECT error('ann_ivf_kmeans oracle needs {sf_dir} parquet: {e}')"
    # mirror train_ivf_codebook's hash-ordered sample (md5 of the id
    # string, id tie-break — the r5 unbiased-sample fix): hashlib.md5
    # reproduces Spark's md5 on the same string bytes
    import hashlib

    rows = sorted(
        zip(tbl["vec_id"].to_pylist(), tbl["embedding"].to_pylist()),
        key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]),
    )[:4096]
    cents = _oracle_lloyd_kmeans([v for _, v in rows], 8)
    values = ",\n    ".join(
        "({}, [{}]::DOUBLE[], {!r})".format(
            cid, ", ".join(repr(float(x)) for x in cv), _seq_sq_norm(cv)
        )
        for cid, cv in enumerate(cents)
    )

    def cos(v, c, n):
        return (
            f"round(list_dot_product({v}, {c})"
            f" / (sqrt(list_dot_product({v}, {v})) * {n}), 6)"
        )

    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
c AS (SELECT * FROM (VALUES
    {values}) AS t(cent_id, cv, cnorm)),
asg AS (
  SELECT vec_id, ve, cent_id AS cell FROM (
    SELECT v.vec_id, v.ve, c.cent_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cos('v.ve', 'c.cv', 'c.cnorm')} DESC,
                                       c.cent_id) AS r
    FROM v CROSS JOIN c) WHERE r = 1
),
q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 3),
probes AS (
  SELECT query_id, qv, cent_id AS cell FROM (
    SELECT q.query_id, q.qv, c.cent_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {cos('q.qv', 'c.cv', 'c.cnorm')} DESC,
                                       c.cent_id) AS r
    FROM q CROSS JOIN c) WHERE r <= 2
),
s AS (
  SELECT p.query_id, a.vec_id, {_cos_sql('a.ve', 'p.qv')} AS cosine
  FROM asg a JOIN probes p ON a.cell = p.cell
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM s)
SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5
"""


# built lazily inside build_oracles(): the builder reads the sf0.01
# parquet and trains the codebook — import must stay I/O-free
from functools import lru_cache as _lru_cache

_ann_ivf_kmeans_oracle_sql = _lru_cache(maxsize=1)(_ann_ivf_kmeans_oracle_sql)


def _clustered_fixture_df(spark):
    from nativeextractor_spark.datagen.embeddings import clustered_embeddings_df

    return clustered_embeddings_df(spark)


_CLUSTERED_QUERY_MOD = 30  # one query per cluster: vec_id % PER_CLUSTER == 0


def q_ann_recall_clustered(spark, sf_dir):
    """Recall@k on the DETERMINISTIC CLUSTERED fixture (VERDICT r3 item 5):
    8 planted Gaussian clusters, one query per cluster. Demonstrates tuned
    recall a user can act on — multi-band LSH (r4 n_bands) closes the
    single-band miss gap and the trained-codebook IVF finds the planted
    structure; the tuning curve is recorded in BENCH/BASELINE.md.
    Ignores sf_dir (the fixture is synthesised in-process). One row per
    (method, query)."""
    from nativeextractor_spark.textops.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        cosine_topk_lsh,
    )

    emb = _clustered_fixture_df(spark)
    queries = emb.where(F.col("vec_id") % _CLUSTERED_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk_bruteforce(emb, queries, k=_ANN_K).select(
        "query_id", "vec_id"
    )
    # measured tuning curve on this fixture (BENCH/BASELINE.md):
    #   8 planes x 1 band  -> 0.400   (the r3 single-band gap)
    #   8 planes x 4 bands -> 0.675   (bands close the miss probability)
    #   4 planes x 8 bands -> 0.975   (tuned: wider buckets + more bands)
    #   trained IVF, nprobe=2 -> 1.000 (the codebook finds the planted clusters)
    methods = [
        ("lsh1", lambda: cosine_topk_lsh(emb, queries, k=_ANN_K, n_planes=8, dim=16)),
        ("lsh4", lambda: cosine_topk_lsh(
            emb, queries, k=_ANN_K, n_planes=8, dim=16, n_bands=4)),
        ("lsh_tuned", lambda: cosine_topk_lsh(
            emb, queries, k=_ANN_K, n_planes=4, dim=16, n_bands=8)),
        ("ivf_kmeans", lambda: cosine_topk_ivf(
            emb, queries, k=_ANN_K, n_centroids=8, nprobe=2, codebook="kmeans")),
    ]
    qids = queries.select("query_id")
    parts = []
    for name, fn in methods:
        approx = fn().select("query_id", "vec_id")
        hits = (
            approx.join(exact, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count("*").alias("hits"))
        )
        parts.append(
            qids.join(hits, "query_id", "left").select(
                F.lit(name).alias("method"),
                "query_id",
                F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
                F.round(
                    F.coalesce(F.col("hits"), F.lit(0)) / F.lit(float(_ANN_K)), 6
                ).alias("recall_at_k"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _ann_recall_clustered_oracle_sql() -> str:
    """DuckDB recomputation of the clustered-fixture recall: the fixture
    vectors are inlined as VALUES literals (the coordinates are rounded to
    6 decimals at generation, so decimal round-trip is exact), the per-band
    hyperplanes as DOUBLE[] literals, and the IVF codebook is retrained by
    the INDEPENDENT :func:`_oracle_lloyd_kmeans`. No table dependency."""
    from nativeextractor_spark.datagen.embeddings import (
        clustered_embedding_rows,
    )
    from nativeextractor_spark.textops.similarity import (
        _hyperplanes,
        _seq_sq_norm,
    )

    rows = clustered_embedding_rows()
    values = ",\n    ".join(
        "({}, [{}]::DOUBLE[])".format(
            vid, ", ".join(repr(float(x)) for x in vec)
        )
        for vid, vec in rows
    )

    def bucket_expr(band: int, n_planes: int = 8) -> str:
        planes = _hyperplanes(dim=16, n_planes=n_planes, seed=42 + band)
        terms = []
        for p in range(planes.shape[0]):
            lit = (
                "[" + ", ".join(repr(float(x)) for x in planes[p]) + "]::DOUBLE[]"
            )
            terms.append(
                f"(CASE WHEN list_dot_product(ve, {lit}) >= 0"
                f" THEN {1 << p} ELSE 0 END)"
            )
        return "(" + " + ".join(terms) + ")"

    # same hash-ordered sample as train_ivf_codebook (r5): with 240
    # fixture rows the slice keeps everything, but the ORDER still feeds
    # Lloyd's seeded init and float fold, so it must match exactly
    import hashlib

    train_rows = sorted(
        rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0])
    )[:4096]
    cents = _oracle_lloyd_kmeans([vec for _, vec in train_rows], 8)
    cent_values = ",\n    ".join(
        "({}, [{}]::DOUBLE[], {!r})".format(
            cid, ", ".join(repr(float(x)) for x in cv), _seq_sq_norm(cv)
        )
        for cid, cv in enumerate(cents)
    )

    def cosc(v, c, n):
        return (
            f"round(list_dot_product({v}, {c})"
            f" / (sqrt(list_dot_product({v}, {v})) * {n}), 6)"
        )

    def band_cands(n_bands: int, n_planes: int) -> str:
        return "\n  UNION\n  ".join(
            f"SELECT q.query_id, b.vec_id FROM"
            f" (SELECT vec_id, {bucket_expr(band, n_planes)} AS bk FROM v) b JOIN"
            f" (SELECT vec_id AS query_id, {bucket_expr(band, n_planes)} AS bk FROM v"
            f"  WHERE vec_id % {_CLUSTERED_QUERY_MOD} = 0) q ON b.bk = q.bk"
            for band in range(n_bands)
        )
    return f"""
WITH v AS (SELECT * FROM (VALUES
    {values}) AS t(vec_id, ve)),
q AS (SELECT vec_id AS query_id, ve AS qv FROM v
      WHERE vec_id % {_CLUSTERED_QUERY_MOD} = 0),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, x.vec_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_cos_sql('x.ve', 'q.qv')} DESC, x.vec_id) AS r
    FROM v x CROSS JOIN q) WHERE r <= {_ANN_K}
),
lsh1 AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, b.vec_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_cos_sql('b.ve', 'q.qv')} DESC, b.vec_id) AS r
    FROM (SELECT vec_id, ve, {bucket_expr(0)} AS bk FROM v) b
    JOIN (SELECT query_id, qv, {bucket_expr(0)} AS bk
          FROM (SELECT vec_id AS query_id, ve AS qv, ve FROM v
                WHERE vec_id % {_CLUSTERED_QUERY_MOD} = 0)) q
      ON b.bk = q.bk) WHERE r <= {_ANN_K}
),
cand4 AS (
  {band_cands(4, 8)}
),
lsh4 AS (
  SELECT query_id, vec_id FROM (
    SELECT c.query_id, c.vec_id,
           row_number() OVER (PARTITION BY c.query_id
             ORDER BY {_cos_sql('b.ve', 'q.qv')} DESC, c.vec_id) AS r
    FROM cand4 c JOIN v b ON b.vec_id = c.vec_id
    JOIN q ON q.query_id = c.query_id) WHERE r <= {_ANN_K}
),
cand_tuned AS (
  {band_cands(8, 4)}
),
lsh_tuned AS (
  SELECT query_id, vec_id FROM (
    SELECT c.query_id, c.vec_id,
           row_number() OVER (PARTITION BY c.query_id
             ORDER BY {_cos_sql('b.ve', 'q.qv')} DESC, c.vec_id) AS r
    FROM cand_tuned c JOIN v b ON b.vec_id = c.vec_id
    JOIN q ON q.query_id = c.query_id) WHERE r <= {_ANN_K}
),
c AS (SELECT * FROM (VALUES
    {cent_values}) AS t(cent_id, cv, cnorm)),
asg AS (
  SELECT vec_id, ve, cell FROM (
    SELECT x.vec_id, x.ve, c.cent_id AS cell,
           row_number() OVER (PARTITION BY x.vec_id
             ORDER BY {cosc('x.ve', 'c.cv', 'c.cnorm')} DESC, c.cent_id) AS r
    FROM v x CROSS JOIN c) WHERE r = 1
),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cent_id AS cell,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {cosc('q.qv', 'c.cv', 'c.cnorm')} DESC, c.cent_id) AS r
    FROM q CROSS JOIN c) WHERE r <= 2
),
ivfk AS (
  SELECT query_id, vec_id FROM (
    SELECT p.query_id, a.vec_id,
           row_number() OVER (PARTITION BY p.query_id
             ORDER BY {_cos_sql('a.ve', 'p.qv')} DESC, a.vec_id) AS r
    FROM asg a JOIN probes p ON a.cell = p.cell) WHERE r <= {_ANN_K}
),
methods AS (SELECT 'lsh1' AS method UNION ALL SELECT 'lsh4'
            UNION ALL SELECT 'lsh_tuned' UNION ALL SELECT 'ivf_kmeans'),
appr AS (
  SELECT 'lsh1' AS method, query_id, vec_id FROM lsh1
  UNION ALL SELECT 'lsh4', query_id, vec_id FROM lsh4
  UNION ALL SELECT 'lsh_tuned', query_id, vec_id FROM lsh_tuned
  UNION ALL SELECT 'ivf_kmeans', query_id, vec_id FROM ivfk
),
h AS (
  SELECT a.method, a.query_id, count(*) AS hits
  FROM appr a JOIN exact e
    ON a.query_id = e.query_id AND a.vec_id = e.vec_id
  GROUP BY a.method, a.query_id
),
qids AS (SELECT query_id FROM q)
SELECT m.method, qi.query_id,
       coalesce(h.hits, 0)::BIGINT AS hits,
       round(coalesce(h.hits, 0) / {float(_ANN_K)}, 6) AS recall_at_k
FROM methods m CROSS JOIN qids qi
LEFT JOIN h ON h.method = m.method AND h.query_id = qi.query_id
"""


_ann_recall_clustered_oracle_sql = _lru_cache(maxsize=1)(
    _ann_recall_clustered_oracle_sql
)


def q_ann_recall(spark, sf_dir):
    """Recall@k of every approximate ANN path vs the exact brute-force
    top-k — the tuning metric a user adjusts n_planes/nprobe against
    (VERDICT r2 item 3). One row per (method, query)."""
    exact = q_ann_topk(spark, sf_dir).select("query_id", "vec_id")
    qids = exact.select("query_id").distinct()
    methods = [
        ("lsh", q_ann_lsh),
        ("ivf", q_ann_ivf),
        ("ivf_kmeans", q_ann_ivf_kmeans),
    ]
    parts = []
    for name, fn in methods:
        approx = fn(spark, sf_dir).select("query_id", "vec_id")
        hits = (
            approx.join(exact, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count("*").alias("hits"))
        )
        parts.append(
            qids.join(hits, "query_id", "left").select(
                F.lit(name).alias("method"),
                "query_id",
                F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
                F.round(
                    F.coalesce(F.col("hits"), F.lit(0)) / F.lit(float(_ANN_K)), 6
                ).alias("recall_at_k"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _ann_recall_oracle_sql() -> str:
    return f"""
WITH exact AS ({O_ANN_TOPK}),
lsh AS ({O_ANN_LSH}),
ivf AS ({O_ANN_IVF}),
ivfk AS ({_ann_ivf_kmeans_oracle_sql()}),
qids AS (SELECT DISTINCT query_id FROM exact),
methods AS (SELECT 'lsh' AS method UNION ALL SELECT 'ivf'
            UNION ALL SELECT 'ivf_kmeans'),
appr AS (
  SELECT 'lsh' AS method, query_id, vec_id FROM lsh
  UNION ALL SELECT 'ivf', query_id, vec_id FROM ivf
  UNION ALL SELECT 'ivf_kmeans', query_id, vec_id FROM ivfk
),
h AS (
  SELECT a.method, a.query_id, count(*) AS hits
  FROM appr a JOIN exact e
    ON a.query_id = e.query_id AND a.vec_id = e.vec_id
  GROUP BY a.method, a.query_id
)
SELECT m.method, q.query_id,
       coalesce(h.hits, 0)::BIGINT AS hits,
       round(coalesce(h.hits, 0) / {float(_ANN_K)}, 6) AS recall_at_k
FROM methods m CROSS JOIN qids q
LEFT JOIN h ON h.method = m.method AND h.query_id = q.query_id
"""


def q_ann_recall_all(spark, sf_dir):
    """Union of BOTH recall scenarios under one contract row (r6): the
    driver's correctness runner caps at 50 registry entries, and r5's
    51st entry (multimodal_features) silently fell off the run — merging
    the two recall queries (identical schemas, disjoint scenarios)
    restores the 1:1 registry↔driver match without losing evidence.
    ``scenario='embeddings'`` is the sf parquet table (methods lsh / ivf
    / ivf_kmeans); ``scenario='clustered'`` is the deterministic planted-
    cluster fixture (methods lsh1 / lsh4 / lsh_tuned / ivf_kmeans)."""
    a = q_ann_recall(spark, sf_dir).select(
        F.lit("embeddings").alias("scenario"),
        "method",
        "query_id",
        "hits",
        "recall_at_k",
    )
    b = q_ann_recall_clustered(spark, sf_dir).select(
        F.lit("clustered").alias("scenario"),
        "method",
        "query_id",
        "hits",
        "recall_at_k",
    )
    return a.unionByName(b)


def _ann_recall_all_oracle_sql() -> str:
    return f"""
SELECT 'embeddings' AS scenario, method, query_id, hits, recall_at_k
FROM ({_ann_recall_oracle_sql()})
UNION ALL
SELECT 'clustered' AS scenario, method, query_id, hits, recall_at_k
FROM ({_ann_recall_clustered_oracle_sql()})
"""


def q_embedding_dup_pairs(spark, sf_dir):
    from nativeextractor_spark.textops.similarity import embedding_duplicate_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_duplicate_pairs(emb, threshold=0.2, n_planes=6, dim=64)


def _embedding_dup_oracle_sql() -> str:
    """Mirror of embedding_duplicate_pairs: the same 4 independent
    hyperplane bands (seeds 42..45) inlined as literals, candidate = share
    a bucket in ANY band (UNION ALL + DISTINCT), exact cosine verify."""
    from nativeextractor_spark.textops.similarity import _hyperplanes

    n_planes, n_bands = 6, 4
    band_selects = []
    for band in range(n_bands):
        planes = _hyperplanes(dim=64, n_planes=n_planes, seed=42 + band)
        terms = []
        for p in range(planes.shape[0]):
            lit = (
                "[" + ", ".join(repr(float(x)) for x in planes[p]) + "]::DOUBLE[]"
            )
            terms.append(
                f"(CASE WHEN list_dot_product(ve, {lit}) >= 0"
                f" THEN {1 << p} ELSE 0 END)"
            )
        bucket = "(" + " + ".join(terms) + ")"
        band_selects.append(
            f"SELECT vec_id, ve, {band} AS band, {bucket} AS bucket FROM v"
        )
    bands_sql = "\n  UNION ALL ".join(band_selects)
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
b AS ({bands_sql}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
  FROM b a JOIN b b2
    ON a.band = b2.band AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
),
pairs AS (
  SELECT id_a, id_b,
         round(list_dot_product(va.ve, vb.ve)
               / (sqrt(list_dot_product(va.ve, va.ve))
                  * sqrt(list_dot_product(vb.ve, vb.ve))), 6) AS cosine
  FROM cand
  JOIN v va ON va.vec_id = id_a
  JOIN v vb ON vb.vec_id = id_b
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.2
"""


O_EMBEDDING_DUP_PAIRS = _embedding_dup_oracle_sql()


def q_lang_id(spark, sf_dir):
    return language_id(_docs(spark, sf_dir))


_LANG_SCORE_SQL = {
    lang: (
        "len(list_filter(string_split(lower(text), ' '), t -> list_contains(["
        + ", ".join(f"'{w}'" for w in words)
        + "], t))) * 1.0 / greatest(len(string_split(lower(text), ' ')), 1)"
    )
    for lang, words in {
        "en": ["the", "and", "of", "to", "in", "is", "you", "that", "with"],
        "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las"],
        "de": ["der", "die", "und", "das", "nicht", "mit", "ist", "ein", "zu"],
        "fr": ["le", "la", "les", "des", "est", "une", "dans", "que", "pour"],
        "cs": ["je", "se", "na", "to", "že", "by", "ale", "jako", "pro"],
    }.items()
}

O_LANG_ID = f"""
WITH s AS (
  SELECT doc_id,
         {_LANG_SCORE_SQL['cs']} AS s_cs,
         {_LANG_SCORE_SQL['de']} AS s_de,
         {_LANG_SCORE_SQL['en']} AS s_en,
         {_LANG_SCORE_SQL['es']} AS s_es,
         {_LANG_SCORE_SQL['fr']} AS s_fr
  FROM documents
)
SELECT doc_id,
  CASE
    WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_cs THEN 'fr'
    WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_cs THEN 'es'
    WHEN s_en >= s_de AND s_en >= s_cs THEN 'en'
    WHEN s_de >= s_cs THEN 'de'
    ELSE 'cs'
  END AS lang_pred,
  round(greatest(s_cs, s_de, s_en, s_es, s_fr), 6) AS lang_score
FROM s
"""


def q_quality(spark, sf_dir):
    return quality_scores(_docs(spark, sf_dir))


O_QUALITY = """
WITH b AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split(lower(text), ' ')) AS n_tokens,
         (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
           * 1.0 / greatest(length(text), 1) AS punct_ratio,
         len(list_filter(string_split(lower(text), ' '),
             t -> list_contains(['the','and','of','to','in','is','you','that','with'], t)))
           * 1.0 / greatest(len(string_split(lower(text), ' ')), 1) AS stop_ratio,
         length(text) * 1.0
           / greatest(len(string_split(lower(text), ' ')), 1) AS mean_word_len
  FROM documents
)
SELECT doc_id, n_chars, n_tokens,
       floor(punct_ratio * 1000000) / 1000000 AS punct_ratio,
       floor(stop_ratio * 1000000) / 1000000 AS stopword_ratio,
       floor(mean_word_len * 1000000) / 1000000 AS mean_word_len,
       floor((least(n_chars / 500.0, 1.0) * 0.4
             + (1.0 - least(punct_ratio * 4, 1.0)) * 0.3
             + least(stop_ratio * 5, 1.0) * 0.3) * 1000000) / 1000000 AS quality_score
FROM b
"""


def q_token_counts(spark, sf_dir):
    return token_counts(_docs(spark, sf_dir))


O_TOKEN_COUNTS = """
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
       len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           t -> length(t) > 0))
       + len(list_filter(string_split_regex(text, '[a-zA-Z0-9\\s]+'),
           t -> length(t) > 0)) AS subword_pieces
FROM documents
"""


def q_fingerprint(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir)).select("doc_id", "fp_md5")


O_FINGERPRINT = """
SELECT doc_id,
       md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp_md5
FROM documents
"""


# --------------------------------------------------------------------------
# relational evidence (§2.7: joins / aggs / windows / sort / top-k)
# --------------------------------------------------------------------------


def _docs_with_lines(spark, sf_dir):
    """documents → a deterministic multi-line corpus (both engines build
    the identical strings): words chunked into 5-token lines; every 3rd doc
    gets a shared boilerplate header line (cross-doc duplicate); every 7th
    doc repeats its own first line (intra-doc duplicate)."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    toks = "split(text, ' ')"
    body = (
        f"array_join(transform(sequence(1, greatest(cast(ceil(size({toks}) / 5.0) as int), 1)),"
        f" i -> array_join(slice({toks}, (i-1)*5+1, 5), ' ')), chr(10))"
    )
    line1 = f"array_join(slice({toks}, 1, 5), ' ')"
    return docs.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("shared boilerplate header line\n"),
            ).otherwise(F.lit("")),
            F.expr(body),
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.lit("\n"), F.expr(line1))
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


_DOCS_WITH_LINES_SQL = """
t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 200),
l0 AS (SELECT doc_id,
        array_to_string(list_transform(range(1, greatest(cast(ceil(len(toks) / 5.0) AS int), 1) + 1),
          i -> array_to_string(list_slice(toks, (i-1)*5+1, (i-1)*5+5), ' ')), chr(10)) AS body,
        array_to_string(list_slice(toks, 1, 5), ' ') AS line1
      FROM t0),
d AS (SELECT doc_id,
       (CASE WHEN doc_id % 3 = 0 THEN 'shared boilerplate header line' || chr(10) ELSE '' END)
       || body
       || (CASE WHEN doc_id % 7 = 0 THEN chr(10) || line1 ELSE '' END) AS text
      FROM l0)
"""


def q_gopher_repetition(spark, sf_dir):
    from nativeextractor_spark.textops.lines import gopher_repetition

    return gopher_repetition(_docs_with_lines(spark, sf_dir))


O_GOPHER_REPETITION = f"""
WITH {_DOCS_WITH_LINES_SQL},
lr AS (SELECT doc_id, length(text) AS n_chars, unnest(string_split(text, chr(10))) AS line FROM d),
lc AS (SELECT doc_id, n_chars, line, count(*) AS c FROM lr GROUP BY doc_id, n_chars, line),
ls AS (SELECT doc_id, n_chars, sum(c) AS n_lines, sum(c - 1) AS dup_lines,
              sum(c * length(line)) AS line_chars, sum((c - 1) * length(line)) AS dup_line_chars
       FROM lc GROUP BY doc_id, n_chars),
tk AS (SELECT doc_id, length(text) AS n_chars, regexp_split_to_array(text, '[ \\n]') AS toks FROM d),
g AS (SELECT doc_id, n_chars, n,
        unnest(list_transform(range(1, greatest(len(toks) - n + 1, 0) + 1),
          i -> array_to_string(list_slice(toks, i, i + n - 1), ' '))) AS gram
      FROM tk CROSS JOIN (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n)),
gc AS (SELECT doc_id, n_chars, n, gram, count(*) AS c FROM g GROUP BY doc_id, n_chars, n, gram),
gr AS (SELECT *, row_number() OVER (PARTITION BY doc_id, n
         ORDER BY c DESC, length(gram) DESC, gram DESC) AS r FROM gc),
pn AS (SELECT doc_id, n_chars, n,
         max(CASE WHEN r = 1 THEN c * length(gram) END) AS top_chars,
         sum(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END) AS dup_chars
       FROM gr GROUP BY doc_id, n_chars, n),
fr AS (SELECT doc_id, n,
         CASE WHEN n <= 4 THEN floor(top_chars * 1000000.0 / greatest(n_chars, 1)) / 1000000
              ELSE floor(dup_chars * 1000000.0 / greatest(n_chars, 1)) / 1000000 END AS frac
       FROM pn),
gw AS (SELECT doc_id,
         max(CASE WHEN n = 2 THEN frac END) AS t2, max(CASE WHEN n = 3 THEN frac END) AS t3,
         max(CASE WHEN n = 4 THEN frac END) AS t4, max(CASE WHEN n = 5 THEN frac END) AS d5,
         max(CASE WHEN n = 6 THEN frac END) AS d6, max(CASE WHEN n = 7 THEN frac END) AS d7,
         max(CASE WHEN n = 8 THEN frac END) AS d8, max(CASE WHEN n = 9 THEN frac END) AS d9,
         max(CASE WHEN n = 10 THEN frac END) AS d10
       FROM fr GROUP BY doc_id)
SELECT ls.doc_id,
       floor(dup_lines * 1000000.0 / greatest(n_lines, 1)) / 1000000 AS dup_line_frac,
       floor(dup_line_chars * 1000000.0 / greatest(line_chars, 1)) / 1000000 AS dup_line_char_frac,
       coalesce(t2, 0.0) AS top2gram_char_frac, coalesce(t3, 0.0) AS top3gram_char_frac,
       coalesce(t4, 0.0) AS top4gram_char_frac, coalesce(d5, 0.0) AS dup5gram_char_frac,
       coalesce(d6, 0.0) AS dup6gram_char_frac, coalesce(d7, 0.0) AS dup7gram_char_frac,
       coalesce(d8, 0.0) AS dup8gram_char_frac, coalesce(d9, 0.0) AS dup9gram_char_frac,
       coalesce(d10, 0.0) AS dup10gram_char_frac,
       (floor(dup_lines * 1000000.0 / greatest(n_lines, 1)) / 1000000 <= 0.30
        AND floor(dup_line_chars * 1000000.0 / greatest(line_chars, 1)) / 1000000 <= 0.20
        AND coalesce(t2, 0.0) <= 0.20 AND coalesce(t3, 0.0) <= 0.18 AND coalesce(t4, 0.0) <= 0.16
        AND coalesce(d5, 0.0) <= 0.15 AND coalesce(d6, 0.0) <= 0.14 AND coalesce(d7, 0.0) <= 0.13
        AND coalesce(d8, 0.0) <= 0.12 AND coalesce(d9, 0.0) <= 0.11 AND coalesce(d10, 0.0) <= 0.10)
       AS repetition_pass
FROM ls LEFT JOIN gw ON gw.doc_id = ls.doc_id
"""


def q_gopher_repetition_span(spark, sf_dir):
    """The FAITHFUL Gopher dup-gram rule (r4): dup{n}gram_char_frac is the
    span-union character fraction (Rae et al. 2021), not the count-weighted
    upper bound — interval merging runs as a sort+fold aggregate."""
    from nativeextractor_spark.textops.lines import gopher_repetition

    return gopher_repetition(
        _docs_with_lines(spark, sf_dir), dup_flavor="span", assume_unique=True
    )


O_GOPHER_REPETITION_SPAN = f"""
WITH {_DOCS_WITH_LINES_SQL},
lr AS (SELECT doc_id, length(text) AS n_chars, unnest(string_split(text, chr(10))) AS line FROM d),
lc AS (SELECT doc_id, n_chars, line, count(*) AS c FROM lr GROUP BY doc_id, n_chars, line),
ls AS (SELECT doc_id, n_chars, sum(c) AS n_lines, sum(c - 1) AS dup_lines,
              sum(c * length(line)) AS line_chars, sum((c - 1) * length(line)) AS dup_line_chars
       FROM lc GROUP BY doc_id, n_chars),
tk AS (SELECT doc_id, length(text) AS n_chars, regexp_split_to_array(text, '[ \\n]') AS toks FROM d),
tk2 AS (SELECT *, list_transform(toks, t -> length(t)) AS tlens FROM tk),
tk3 AS (SELECT *, list_transform(range(1, len(toks) + 1),
                  i -> coalesce(list_sum(tlens[1:i-1]), 0) + (i - 1)) AS starts FROM tk2),
g AS (SELECT doc_id, n_chars, n,
        unnest(list_transform(range(1, greatest(len(toks) - n + 1, 0) + 1),
          i -> struct_pack(gram := array_to_string(toks[i:i+n-1], ' '),
                           s := starts[i],
                           e := starts[i+n-1] + tlens[i+n-1]))) AS o
      FROM tk3 CROSS JOIN (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n)),
go AS (SELECT doc_id, n_chars, n, (o).gram AS gram, (o).s AS s, (o).e AS e FROM g),
gc AS (SELECT doc_id, n_chars, n, gram, count(*) AS c FROM go GROUP BY doc_id, n_chars, n, gram),
gr AS (SELECT *, row_number() OVER (PARTITION BY doc_id, n
         ORDER BY c DESC, length(gram) DESC, gram DESC) AS r FROM gc),
tops AS (SELECT doc_id, n_chars, n,
           max(CASE WHEN r = 1 THEN c * length(gram) END) AS top_chars
         FROM gr GROUP BY doc_id, n_chars, n),
d1 AS (SELECT go.doc_id, go.n, go.s, go.e
       FROM go JOIN gc ON gc.doc_id = go.doc_id AND gc.n = go.n AND gc.gram = go.gram
       WHERE gc.c > 1),
i1 AS (SELECT *, max(e) OVER (PARTITION BY doc_id, n ORDER BY s, e
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax FROM d1),
i2 AS (SELECT *, sum(CASE WHEN prevmax IS NULL OR s > prevmax THEN 1 ELSE 0 END)
         OVER (PARTITION BY doc_id, n ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS isl FROM i1),
cov AS (SELECT doc_id, n, sum(mx - mn) AS covered FROM
          (SELECT doc_id, n, isl, min(s) AS mn, max(e) AS mx FROM i2 GROUP BY doc_id, n, isl)
        GROUP BY doc_id, n),
fr AS (SELECT t.doc_id, t.n,
         CASE WHEN t.n <= 4 THEN floor(t.top_chars * 1000000.0 / greatest(t.n_chars, 1)) / 1000000
              ELSE floor(coalesce(cov.covered, 0) * 1000000.0 / greatest(t.n_chars, 1)) / 1000000 END AS frac
       FROM tops t LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.n = t.n),
gw AS (SELECT doc_id,
         max(CASE WHEN n = 2 THEN frac END) AS t2, max(CASE WHEN n = 3 THEN frac END) AS t3,
         max(CASE WHEN n = 4 THEN frac END) AS t4, max(CASE WHEN n = 5 THEN frac END) AS d5,
         max(CASE WHEN n = 6 THEN frac END) AS d6, max(CASE WHEN n = 7 THEN frac END) AS d7,
         max(CASE WHEN n = 8 THEN frac END) AS d8, max(CASE WHEN n = 9 THEN frac END) AS d9,
         max(CASE WHEN n = 10 THEN frac END) AS d10
       FROM fr GROUP BY doc_id)
SELECT ls.doc_id,
       floor(dup_lines * 1000000.0 / greatest(n_lines, 1)) / 1000000 AS dup_line_frac,
       floor(dup_line_chars * 1000000.0 / greatest(line_chars, 1)) / 1000000 AS dup_line_char_frac,
       coalesce(t2, 0.0) AS top2gram_char_frac, coalesce(t3, 0.0) AS top3gram_char_frac,
       coalesce(t4, 0.0) AS top4gram_char_frac, coalesce(d5, 0.0) AS dup5gram_char_frac,
       coalesce(d6, 0.0) AS dup6gram_char_frac, coalesce(d7, 0.0) AS dup7gram_char_frac,
       coalesce(d8, 0.0) AS dup8gram_char_frac, coalesce(d9, 0.0) AS dup9gram_char_frac,
       coalesce(d10, 0.0) AS dup10gram_char_frac,
       (floor(dup_lines * 1000000.0 / greatest(n_lines, 1)) / 1000000 <= 0.30
        AND floor(dup_line_chars * 1000000.0 / greatest(line_chars, 1)) / 1000000 <= 0.20
        AND coalesce(t2, 0.0) <= 0.20 AND coalesce(t3, 0.0) <= 0.18 AND coalesce(t4, 0.0) <= 0.16
        AND coalesce(d5, 0.0) <= 0.15 AND coalesce(d6, 0.0) <= 0.14 AND coalesce(d7, 0.0) <= 0.13
        AND coalesce(d8, 0.0) <= 0.12 AND coalesce(d9, 0.0) <= 0.11 AND coalesce(d10, 0.0) <= 0.10)
       AS repetition_pass
FROM ls LEFT JOIN gw ON gw.doc_id = ls.doc_id
"""


_DUP_SPAN_N = 3  # token n-gram length for the contract queries (the sf
# documents are short random-word texts; 3-grams recur across them while
# the Lee-et-al-style default of 8 stays for real corpora)


def q_dup_span_stats(spark, sf_dir):
    """ExactSubstr-style duplicate-span detection (Lee et al. 2022, r4):
    corpus-wide duplicated token n-grams, keep-first eligibility, per-doc
    interval merge — reported as per-doc span stats."""
    from nativeextractor_spark.textops.spans import duplicate_span_stats

    return duplicate_span_stats(
        _docs(spark, sf_dir), n_tokens=_DUP_SPAN_N, assume_unique=True
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_chars",
        "n_dup_spans",
        "dup_span_chars",
        "dup_span_frac",
    )


def q_dup_span_removal(spark, sf_dir):
    """The removal variant: duplicate spans spliced out of the text
    (all-but-first occurrence), idempotent."""
    from nativeextractor_spark.textops.spans import remove_duplicate_spans

    return remove_duplicate_spans(
        _docs(spark, sf_dir), n_tokens=_DUP_SPAN_N, assume_unique=True
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        "n_removed_chars",
    )


_DUP_SPAN_CORE_SQL = f"""
dd AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
tk AS (SELECT doc_id, length(text) AS n_chars, text,
              regexp_split_to_array(text, '[ \\n]') AS toks FROM dd),
tk2 AS (SELECT *, list_transform(toks, t -> length(t)) AS tlens FROM tk),
tk3 AS (SELECT *, list_transform(range(1, len(toks) + 1),
                  i -> coalesce(list_sum(tlens[1:i-1]), 0) + (i - 1)) AS starts FROM tk2),
g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - {_DUP_SPAN_N} + 1, 0) + 1),
          i -> struct_pack(gram := array_to_string(toks[i:i+{_DUP_SPAN_N}-1], ' '),
                           s := starts[i],
                           e := starts[i+{_DUP_SPAN_N}-1] + tlens[i+{_DUP_SPAN_N}-1]))) AS o
      FROM tk3),
go AS (SELECT doc_id, (o).gram AS gram, (o).s AS s, (o).e AS e FROM g),
el AS (SELECT doc_id, s, e FROM
         (SELECT *, row_number() OVER (PARTITION BY gram ORDER BY doc_id, s, e) AS rn FROM go)
       WHERE rn >= 2),
i1 AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY s, e
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax FROM el),
i2 AS (SELECT *, sum(CASE WHEN prevmax IS NULL OR s > prevmax THEN 1 ELSE 0 END)
         OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS isl FROM i1),
m AS (SELECT doc_id, isl, min(s) AS mn, max(e) AS mx FROM i2 GROUP BY doc_id, isl)
"""


O_DUP_SPAN_STATS = f"""
WITH {_DUP_SPAN_CORE_SQL},
agg AS (SELECT doc_id, count(*) AS n_dup_spans, sum(mx - mn) AS dup_span_chars
        FROM m GROUP BY doc_id)
SELECT t.doc_id, t.n_chars,
       coalesce(a.n_dup_spans, 0)::BIGINT AS n_dup_spans,
       coalesce(a.dup_span_chars, 0)::BIGINT AS dup_span_chars,
       floor(coalesce(a.dup_span_chars, 0) * 1000000.0 / greatest(t.n_chars, 1)) / 1000000
         AS dup_span_frac
FROM tk t LEFT JOIN agg a ON a.doc_id = t.doc_id
"""


O_DUP_SPAN_REMOVAL = f"""
WITH {_DUP_SPAN_CORE_SQL},
segs AS (SELECT doc_id, coalesce(lag(mx) OVER (PARTITION BY doc_id ORDER BY mn), 0) AS p,
                mn AS q FROM m),
head AS (SELECT s.doc_id,
           string_agg(substring(d2.text, (s.p + 1)::BIGINT, (s.q - s.p)::BIGINT), '' ORDER BY s.p) AS h
         FROM segs s JOIN dd d2 USING (doc_id) GROUP BY s.doc_id),
tl AS (SELECT doc_id, max(mx) AS last FROM m GROUP BY doc_id)
SELECT d2.doc_id,
       CASE WHEN tl.last IS NULL THEN d2.text
            ELSE coalesce(head.h, '') || substring(d2.text, (tl.last + 1)::BIGINT) END AS text,
       (length(d2.text)
        - length(CASE WHEN tl.last IS NULL THEN d2.text
                 ELSE coalesce(head.h, '') || substring(d2.text, (tl.last + 1)::BIGINT) END))
         AS n_removed_chars
FROM dd d2
LEFT JOIN tl ON tl.doc_id = d2.doc_id
LEFT JOIN head ON head.doc_id = d2.doc_id
"""


def q_line_dedup(spark, sf_dir):
    from nativeextractor_spark.textops.lines import drop_duplicate_lines

    return drop_duplicate_lines(_docs_with_lines(spark, sf_dir))


O_LINE_DEDUP = f"""
WITH {_DOCS_WITH_LINES_SQL},
r AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM (
        SELECT doc_id, unnest(list_transform(string_split(text, chr(10)),
               (x, i) -> {{'pos': i - 1, 'line': x}})) AS u FROM d)),
f AS (SELECT line, count(*) AS cnt, min(struct_pack(d := doc_id, p := pos)) AS first FROM r GROUP BY line),
kept AS (SELECT r.doc_id, r.pos, r.line FROM r JOIN f USING (line)
         WHERE length(line) < 1 OR f.cnt = 1
            OR (r.doc_id = f.first.d AND r.pos = f.first.p)),
reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text, count(*) AS n_lines
        FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS total FROM r GROUP BY doc_id)
SELECT t.doc_id, coalesce(reb.text, '') AS text, coalesce(reb.n_lines, 0) AS n_lines,
       t.total - coalesce(reb.n_lines, 0) AS n_removed
FROM tot t LEFT JOIN reb ON reb.doc_id = t.doc_id
"""


_CURATE_SPAN_N = 3  # span-dedup gram length for the contract corpus (see
# _DUP_SPAN_N: short random-word sf docs recur at 3 tokens, not 8)


def _curate_input(spark, sf_dir):
    """Deterministic curation corpus with work for every pipeline stage:
    the multi-line docs (boilerplate header + intra-doc dup lines) plus
    planted EXACT duplicates (doc_id+100000, same text, every 10th doc)
    and NEAR duplicates (doc_id+200000, every line suffixed ' zq', every
    10th+1 doc — line-level unique so line dedup keeps them, shingle-level
    close so LSH catches them)."""
    base = _docs_with_lines(spark, sf_dir)
    exact = base.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = base.where(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.expr(
            "concat(replace(text, chr(10), concat(' zq', chr(10))), ' zq')"
        ).alias("text"),
    )
    return base.unionByName(exact).unionByName(near)


def _curate(spark, sf_dir):
    from nativeextractor_spark.textops.pipeline import curate_corpus

    return curate_corpus(
        _curate_input(spark, sf_dir),
        text_col="text",
        id_col="doc_id",
        # r7 (VERDICT #4): the FULL Lee-et-al-style stack — ExactSubstr
        # span dedup ON between line dedup and near dedup, replayed
        # stage-by-stage by the oracle (f3 -> f3s); n=3 because the sf
        # documents are short random-word texts (same rationale as
        # _DUP_SPAN_N)
        span_dedup=True,
        span_dedup_n_tokens=_CURATE_SPAN_N,
        # oracle-replicable LSH flavor (md5 char-5 shingles); everything
        # else is the production default — incl. the span repetition rule
        lsh_k=5,
        lsh_min_shared_bands=5,
        lsh_hash_flavor="md5",
        lsh_shingle="char",
        # exact-Jaccard verification (the r6 production default) at a
        # threshold matched to this fixture's shingle flavor: the planted
        # near-duplicates measure 0.649-0.724 char-5 Jaccard (the ' zq'
        # per-line suffix churns ~1/3 of the 5-char windows), so the
        # word-shingle production default 0.7 would let most of the
        # planted class survive; 0.6 keeps the class caught while still
        # exercising the verification join end-to-end
        lsh_verify_jaccard=0.6,
        # redaction has its own contract query (redact_pii); the corpus
        # here is plain lowercase words, so it would be a no-op pass
        redact=False,
    )


def q_curate_corpus(spark, sf_dir):
    """The END-TO-END curation pipeline as a contract query (r5): Gopher
    quality + span-repetition filters -> exact dedup -> corpus-wide line
    dedup -> MinHash-LSH + connected-components near dedup; survivors with
    their final (line-deduped) text, replayed stage-by-stage in DuckDB."""
    out, _ = _curate(spark, sf_dir)
    return out.select(
        "doc_id", F.length("text").cast("long").alias("n_chars"), "text"
    )


def q_curate_corpus_metrics(spark, sf_dir):
    """Per-stage surviving-document counts of the same pipeline run."""
    from decimal import Decimal

    _, metrics = _curate(spark, sf_dir)
    rows = [
        (k, Decimal(int(metrics[k])))
        for k in (
            "n_input",
            "n_distinct_ids",
            "after_filters",
            "after_exact_dedup",
            "after_line_dedup",
            "span_dedup_removed_chars",
            "after_near_dedup",
            "n_output",
        )
    ]
    # n is decimal(38,0): the oracle's span_dedup_removed_chars branch is a
    # DuckDB HUGEINT sum-difference, and UNION ALL promotes the whole column
    # to decimal128(38,0) in the oracle's Arrow output — the driver hashes
    # TYPED values, so Spark must emit the same Arrow type (the oracle SQL
    # text is frozen; values are identical either way, VERDICT r7 #1).
    return spark.createDataFrame(rows, "stage string, n decimal(38,0)")


# the shared stage-by-stage DuckDB replay: inp -> (quality qk ∩ span-
# repetition rk) -> exact dedup f2 -> line dedup f3 -> LSH+CC near dedup f4.
# String ids throughout (the pipeline casts ids to string on entry, so every
# keep-min compares VARCHARs in both engines).
_CURATE_CORE_SQL = f"""
{_DOCS_WITH_LINES_SQL},
inp AS MATERIALIZED (
  SELECT cast(doc_id AS varchar) AS id, text FROM d
  UNION ALL
  SELECT cast(doc_id + 100000 AS varchar), text FROM d WHERE doc_id % 10 = 0
  UNION ALL
  SELECT cast(doc_id + 200000 AS varchar),
         replace(text, chr(10), ' zq' || chr(10)) || ' zq'
  FROM d WHERE doc_id % 10 = 1
),
qt AS (SELECT id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM inp),
qm AS (SELECT id, len(toks) AS n_words,
         list_sum(list_transform(toks, t -> length(t))) AS ciw,
         len(list_filter(toks, t -> contains(t, '#') OR contains(t, '...'))) AS n_sym,
         len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS n_alpha,
         len(list_filter(toks, t -> list_contains(
           ['the','be','to','of','and','that','have','with'], t))) AS n_stop
       FROM qt),
qk AS (SELECT id FROM qm WHERE n_words BETWEEN 50 AND 100000
         AND ciw * 1.0 / greatest(n_words, 1) BETWEEN 3 AND 10
         AND n_sym * 1.0 / greatest(n_words, 1) <= 0.1
         AND n_alpha * 1.0 / greatest(n_words, 1) >= 0.8
         AND n_stop >= 2),
rlr AS (SELECT id, length(text) AS n_chars, unnest(string_split(text, chr(10))) AS line FROM inp),
rlc AS (SELECT id, n_chars, line, count(*) AS c FROM rlr GROUP BY id, n_chars, line),
rls AS (SELECT id, n_chars, sum(c) AS n_lines, sum(c - 1) AS dup_lines,
              sum(c * length(line)) AS line_chars, sum((c - 1) * length(line)) AS dup_line_chars
       FROM rlc GROUP BY id, n_chars),
rtk AS (SELECT id, length(text) AS n_chars, regexp_split_to_array(text, '[ \\n]') AS toks FROM inp),
rtk2 AS (SELECT *, list_transform(toks, t -> length(t)) AS tlens FROM rtk),
rtk3 AS (SELECT *, list_transform(range(1, len(toks) + 1),
                  i -> coalesce(list_sum(tlens[1:i-1]), 0) + (i - 1)) AS starts FROM rtk2),
rg AS (SELECT id, n_chars, n,
        unnest(list_transform(range(1, greatest(len(toks) - n + 1, 0) + 1),
          i -> struct_pack(gram := array_to_string(toks[i:i+n-1], ' '),
                           s := starts[i],
                           e := starts[i+n-1] + tlens[i+n-1]))) AS o
      FROM rtk3 CROSS JOIN (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n)),
rgo AS (SELECT id, n_chars, n, (o).gram AS gram, (o).s AS s, (o).e AS e FROM rg),
rgc AS (SELECT id, n_chars, n, gram, count(*) AS c FROM rgo GROUP BY id, n_chars, n, gram),
rgr AS (SELECT *, row_number() OVER (PARTITION BY id, n
         ORDER BY c DESC, length(gram) DESC, gram DESC) AS r FROM rgc),
rtops AS (SELECT id, n_chars, n,
           max(CASE WHEN r = 1 THEN c * length(gram) END) AS top_chars
         FROM rgr GROUP BY id, n_chars, n),
rd1 AS (SELECT rgo.id, rgo.n, rgo.s, rgo.e
       FROM rgo JOIN rgc ON rgc.id = rgo.id AND rgc.n = rgo.n AND rgc.gram = rgo.gram
       WHERE rgc.c > 1),
ri1 AS (SELECT *, max(e) OVER (PARTITION BY id, n ORDER BY s, e
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax FROM rd1),
ri2 AS (SELECT *, sum(CASE WHEN prevmax IS NULL OR s > prevmax THEN 1 ELSE 0 END)
         OVER (PARTITION BY id, n ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS isl FROM ri1),
rcov AS (SELECT id, n, sum(mx - mn) AS covered FROM
          (SELECT id, n, isl, min(s) AS mn, max(e) AS mx FROM ri2 GROUP BY id, n, isl)
        GROUP BY id, n),
rfr AS (SELECT t.id, t.n,
         CASE WHEN t.n <= 4 THEN floor(t.top_chars * 1000000.0 / greatest(t.n_chars, 1)) / 1000000
              ELSE floor(coalesce(rcov.covered, 0) * 1000000.0 / greatest(t.n_chars, 1)) / 1000000 END AS frac
       FROM rtops t LEFT JOIN rcov ON rcov.id = t.id AND rcov.n = t.n),
rgw AS (SELECT id,
         max(CASE WHEN n = 2 THEN frac END) AS t2, max(CASE WHEN n = 3 THEN frac END) AS t3,
         max(CASE WHEN n = 4 THEN frac END) AS t4, max(CASE WHEN n = 5 THEN frac END) AS d5,
         max(CASE WHEN n = 6 THEN frac END) AS d6, max(CASE WHEN n = 7 THEN frac END) AS d7,
         max(CASE WHEN n = 8 THEN frac END) AS d8, max(CASE WHEN n = 9 THEN frac END) AS d9,
         max(CASE WHEN n = 10 THEN frac END) AS d10
       FROM rfr GROUP BY id),
rk AS (SELECT rls.id FROM rls LEFT JOIN rgw ON rgw.id = rls.id
       WHERE floor(dup_lines * 1000000.0 / greatest(n_lines, 1)) / 1000000 <= 0.30
         AND floor(dup_line_chars * 1000000.0 / greatest(line_chars, 1)) / 1000000 <= 0.20
         AND coalesce(t2, 0.0) <= 0.20 AND coalesce(t3, 0.0) <= 0.18 AND coalesce(t4, 0.0) <= 0.16
         AND coalesce(d5, 0.0) <= 0.15 AND coalesce(d6, 0.0) <= 0.14 AND coalesce(d7, 0.0) <= 0.13
         AND coalesce(d8, 0.0) <= 0.12 AND coalesce(d9, 0.0) <= 0.11 AND coalesce(d10, 0.0) <= 0.10),
f1 AS MATERIALIZED (SELECT inp.id, inp.text FROM inp JOIN qk USING (id) JOIN rk USING (id)),
ek AS (SELECT min(id) AS id FROM f1 GROUP BY sha256(text)),
f2 AS MATERIALIZED (SELECT f1.id, f1.text FROM f1 JOIN ek USING (id)),
lr2 AS (SELECT id, u.pos AS pos, u.line AS line FROM (
        SELECT id, unnest(list_transform(string_split(text, chr(10)),
               (x, i) -> {{'pos': i - 1, 'line': x}})) AS u FROM f2)),
lf AS (SELECT line, count(*) AS cnt, min(struct_pack(d := id, p := pos)) AS first
       FROM lr2 GROUP BY line),
kept2 AS (SELECT r.id, r.pos, r.line FROM lr2 r JOIN lf USING (line)
         WHERE length(line) < 1 OR lf.cnt = 1
            OR (r.id = lf.first.d AND r.pos = lf.first.p)),
f3 AS MATERIALIZED (SELECT f2.id, coalesce(reb.text, '') AS text FROM f2 LEFT JOIN
        (SELECT id, string_agg(line, chr(10) ORDER BY pos) AS text
         FROM kept2 GROUP BY id) reb USING (id)),
sp_tk AS (SELECT id, text, regexp_split_to_array(text, '[ \\n]') AS toks FROM f3),
sp_tk2 AS (SELECT *, list_transform(toks, t -> length(t)) AS tlens FROM sp_tk),
sp_tk3 AS (SELECT *, list_transform(range(1, len(toks) + 1),
                  i -> coalesce(list_sum(tlens[1:i-1]), 0) + (i - 1)) AS starts FROM sp_tk2),
sp_g AS (SELECT id, unnest(list_transform(range(1, greatest(len(toks) - {_CURATE_SPAN_N} + 1, 0) + 1),
          i -> struct_pack(gram := array_to_string(toks[i:i+{_CURATE_SPAN_N}-1], ' '),
                           s := starts[i],
                           e := starts[i+{_CURATE_SPAN_N}-1] + tlens[i+{_CURATE_SPAN_N}-1]))) AS o
      FROM sp_tk3),
sp_go AS (SELECT id, (o).gram AS gram, (o).s AS s, (o).e AS e FROM sp_g),
sp_el AS (SELECT id, s, e FROM
         (SELECT *, row_number() OVER (PARTITION BY gram ORDER BY id, s, e) AS rn FROM sp_go)
       WHERE rn >= 2),
sp_i1 AS (SELECT *, max(e) OVER (PARTITION BY id ORDER BY s, e
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax FROM sp_el),
sp_i2 AS (SELECT *, sum(CASE WHEN prevmax IS NULL OR s > prevmax THEN 1 ELSE 0 END)
         OVER (PARTITION BY id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS isl FROM sp_i1),
sp_m AS MATERIALIZED (SELECT id, isl, min(s) AS mn, max(e) AS mx FROM sp_i2 GROUP BY id, isl),
sp_segs AS (SELECT id, coalesce(lag(mx) OVER (PARTITION BY id ORDER BY mn), 0) AS p,
                mn AS q FROM sp_m),
sp_head AS (SELECT s.id,
           string_agg(substring(f.text, (s.p + 1)::BIGINT, (s.q - s.p)::BIGINT), '' ORDER BY s.p) AS h
         FROM sp_segs s JOIN f3 f USING (id) GROUP BY s.id),
sp_tl AS (SELECT id, max(mx) AS last FROM sp_m GROUP BY id),
f3s AS MATERIALIZED (SELECT f3.id,
       CASE WHEN sp_tl.last IS NULL THEN f3.text
            ELSE coalesce(sp_head.h, '') || substring(f3.text, (sp_tl.last + 1)::BIGINT) END AS text
       FROM f3 LEFT JOIN sp_head ON sp_head.id = f3.id
               LEFT JOIN sp_tl ON sp_tl.id = f3.id),
sh2 AS (SELECT id, lower(text) AS t FROM f3s),
sh3 AS (SELECT id, list_transform(range(1, greatest(length(t) - 4, 1) + 1),
                  i -> substring(t, cast(i AS int), 5)) AS shingles FROM sh2),
bnd AS (SELECT id, band, list_min(list_transform(shingles,
                  s -> md5(cast(band AS varchar) || s))) AS min_hash
        FROM (SELECT id, unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS band, shingles FROM sh3)),
bsz AS (SELECT band, min_hash FROM bnd GROUP BY band, min_hash HAVING count(*) <= 200),
bb AS (SELECT bnd.* FROM bnd JOIN bsz USING (band, min_hash)),
prs0 AS (SELECT a.id AS ia, b.id AS ib FROM bb a JOIN bb b
          ON a.band = b.band AND a.min_hash = b.min_hash AND a.id < b.id
        GROUP BY a.id, b.id HAVING count(*) >= 5),
shd AS (SELECT id, list_distinct(shingles) AS ds FROM sh3),
prs AS (SELECT ia, ib FROM prs0
        JOIN shd sa ON sa.id = prs0.ia
        JOIN shd sb ON sb.id = prs0.ib
        WHERE (CASE WHEN len(sa.ds) + len(sb.ds) - len(list_intersect(sa.ds, sb.ds)) = 0
                    THEN 1.0
                    ELSE len(list_intersect(sa.ds, sb.ds)) * 1.0 /
                         (len(sa.ds) + len(sb.ds) - len(list_intersect(sa.ds, sb.ds))) END)
              >= 0.6),
sym AS (SELECT ia AS u, ib AS v FROM prs UNION SELECT ib, ia FROM prs),
reach(node, rt) AS (
  SELECT id, id FROM f3s
  UNION
  SELECT s.u, reach.rt FROM sym s JOIN reach ON s.v = reach.node
),
comp AS (SELECT node AS id, min(rt) AS root FROM reach GROUP BY node),
keepn AS (SELECT min(id) AS id FROM comp GROUP BY root),
f4 AS (SELECT f3s.id, f3s.text FROM f3s JOIN keepn USING (id))
"""


O_CURATE_CORPUS = f"""
WITH RECURSIVE {_CURATE_CORE_SQL}
SELECT id AS doc_id, length(text)::BIGINT AS n_chars, text FROM f4
"""


O_CURATE_CORPUS_METRICS = f"""
WITH RECURSIVE {_CURATE_CORE_SQL}
SELECT 'n_input' AS stage, count(*)::BIGINT AS n FROM inp
UNION ALL SELECT 'n_distinct_ids', count(DISTINCT id) FROM inp
UNION ALL SELECT 'after_filters', count(*) FROM f1
UNION ALL SELECT 'after_exact_dedup', count(*) FROM f2
UNION ALL SELECT 'after_line_dedup', count(*) FROM f3
UNION ALL SELECT 'span_dedup_removed_chars',
  (SELECT coalesce(sum(length(text)), 0) FROM f3)
  - (SELECT coalesce(sum(length(text)), 0) FROM f3s)
UNION ALL SELECT 'after_near_dedup', count(*) FROM f4
UNION ALL SELECT 'n_output', count(*) FROM f4
"""


def q_redact_pii(spark, sf_dir):
    """PII redaction over the reference fixture pages (email/URL/telephone
    miners → typed placeholders)."""
    from nativeextractor_spark.textops.redact import redact_pii

    return redact_pii(_fixture_pages_df(spark))


# expected redacted fixture texts — hand-checked against FIXTURE_TEXTS:
# each golden entity span (FIXTURES.md §2) replaced by its placeholder,
# every other byte identical. Only changed pages are listed; the rest
# pass through verbatim with 0 redactions.
_REDACT_GOLDEN_CHANGED = {
    "fixture://test.txt": (
        "<TEL_NO>2222\n4444.2222.4444.2222\nřřřř <EMAIL>;+čččč\n\n"
        "a <URL> xxd\n\n",
        3,
    ),
    "fixture://regex_fixture_0.txt": (
        "asds ad <TEL_NO> asdad\nadsadas <EMAIL> asds sdščččč---",
        2,
    ),
    "fixture://test_glob.txt": (
        "       abcdef\n  abc    def    \n<EMAIL>     \n[-bc\nC:\\Users\\Admin",
        1,
    ),
    "fixture://glob/qmark2": ("<URL>", 1),
}


def _o_redact_pii() -> str:
    vals = []
    for url in sorted(FIXTURE_TEXTS):
        text, n = _REDACT_GOLDEN_CHANGED.get(url, (FIXTURE_TEXTS[url], 0))
        vals.append(f"({_sql_str(url)}, {_sql_str(text)}, {n})")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(url, text, n_redactions)"
    )


def q_gopher_filters(spark, sf_dir):
    from nativeextractor_spark.textops.quality import gopher_quality_filters

    return gopher_quality_filters(_docs(spark, sf_dir))


O_GOPHER_FILTERS = """
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         list_sum(list_transform(toks, t -> length(t))) AS chars_in_words,
         len(list_filter(toks, t -> contains(t, '#')
                                 OR contains(t, '...'))) AS n_symbols,
         len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS n_alpha,
         len(list_filter(toks, t -> list_contains(
           ['the','be','to','of','and','that','have','with'], t))) AS n_stop
  FROM d
),
r AS (
  SELECT doc_id, n_words,
         floor(chars_in_words * 1000000.0 / greatest(n_words, 1)) / 1000000
           AS mean_word_len,
         floor(n_symbols * 1000000.0 / greatest(n_words, 1)) / 1000000
           AS symbol_ratio,
         floor(n_alpha * 1000000.0 / greatest(n_words, 1)) / 1000000
           AS alpha_word_ratio,
         n_stop AS n_stopwords,
         (n_words BETWEEN 50 AND 100000) AS ok_word_count,
         (chars_in_words * 1.0 / greatest(n_words, 1) BETWEEN 3 AND 10)
           AS ok_mean_word_len,
         (n_symbols * 1.0 / greatest(n_words, 1) <= 0.1) AS ok_symbol_ratio,
         (n_alpha * 1.0 / greatest(n_words, 1) >= 0.8) AS ok_alpha_words,
         (n_stop >= 2) AS ok_stopwords
  FROM m
)
SELECT doc_id, cast(n_words AS int) AS n_words, mean_word_len, symbol_ratio,
       alpha_word_ratio, cast(n_stopwords AS int) AS n_stopwords,
       ok_word_count, ok_mean_word_len, ok_symbol_ratio, ok_alpha_words,
       ok_stopwords,
       (ok_word_count AND ok_mean_word_len AND ok_symbol_ratio
        AND ok_alpha_words AND ok_stopwords) AS gopher_pass
FROM r
"""


def q_winnow_fp(spark, sf_dir):
    from nativeextractor_spark.textops.quality import winnow_fingerprints

    return winnow_fingerprints(
        _docs(spark, sf_dir).where(F.col("doc_id") < 50), k=5, window=4
    )


O_WINNOW_FP = r"""
WITH d AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
  FROM documents WHERE doc_id < 50
),
g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(t) - 4, 1) + 1),
                        i -> substring(md5(substring(t, i::int, 5)), 1, 16))
           AS grams
  FROM d
),
m AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(grams) - 3, 1) + 1),
           i -> list_min(list_slice(grams, i, i + 3)))) AS fps
  FROM g
)
SELECT DISTINCT doc_id, unnest(fps) AS fp FROM m
"""


def q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")).cast("double"), 2).alias("sum_base_price"),
            F.count("*").alias("count_order"),
        )
    )


O_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(cast(sum(cast(l_quantity AS decimal(18,2))) AS double), 2) AS sum_qty,
       round(cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double), 2) AS sum_base_price,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3_topk(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,4)")
    )
    joined = (
        cust.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
    )
    agg = joined.groupBy("o_orderkey").agg(
        F.round(F.sum(dec).cast("double"), 2).alias("revenue")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("revenue"), F.asc("o_orderkey"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("o_orderkey", "revenue", "rank")
    )


O_TPCH_Q3_TOPK = """
WITH agg AS (
  SELECT o_orderkey,
         round(cast(sum(cast(l_extendedprice AS decimal(18,2))
               * (cast(1 AS decimal(18,2)) - cast(l_discount AS decimal(18,4))))
               AS double), 2) AS revenue
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
  WHERE c_mktsegment = 'BUILDING'
  GROUP BY o_orderkey
)
SELECT o_orderkey, revenue, rank FROM (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, o_orderkey) AS rank
  FROM agg
) WHERE rank <= 10
"""


def q_events_window(spark, sf_dir):
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("user_id", "event_id", F.round("value", 6).alias("value"), "rank")
        .where(F.col("user_id") < 200)
    )


O_EVENTS_WINDOW = """
SELECT user_id, event_id, round(value, 6) AS value, rank FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rank
  FROM events
) WHERE rank <= 3 AND user_id < 200
"""


def q_rollup_orders(spark, sf_dir):
    """GROUPING SETS / ROLLUP coverage (§2.7): order totals by status with
    subtotals. Decimal-cast sums for cross-engine determinism."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


O_ROLLUP_ORDERS = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       round(cast(sum(cast(o_totalprice AS decimal(18,2))) AS double), 2)
         AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_anti_join_new_nodes(spark, sf_dir):
    """Semi/anti-join coverage (§2.7): the incremental-MERGE discovery step —
    customers with no orders (the "not matched" side of MERGE INTO)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    new = cust.join(
        orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
        "c_custkey",
        "left_anti",
    )
    existing = cust.join(
        orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
        "c_custkey",
        "left_semi",
    )
    return spark.createDataFrame(
        [], "kind string, n long"
    ).unionByName(
        new.agg(F.lit("new").alias("kind"), F.count("*").alias("n"))
    ).unionByName(
        existing.agg(F.lit("existing").alias("kind"), F.count("*").alias("n"))
    )


O_ANTI_JOIN_NEW_NODES = """
SELECT 'new' AS kind, count(*) AS n FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT 'existing' AS kind, count(*) AS n FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
"""


def q_event_sessions(spark, sf_dir):
    """Sessionization coverage (§2.7 streaming/window analogue): gap-based
    sessions (30 min) per user over the events table; deterministic counts."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("user_id") < 100
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)
    sess = (
        ev.withColumn("_new", (gap.isNull() | (gap > 1800)).cast("int"))
        .withColumn("session_id", F.sum("_new").over(w))
    )
    return sess.groupBy(
        "user_id", F.col("session_id").cast("long").alias("session_id")
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.min(F.unix_timestamp("ts")).cast("long").alias("session_start"),
    )


O_EVENT_SESSIONS = """
WITH e AS (SELECT user_id, event_id, ts,
                  cast(floor(epoch(ts)) AS bigint) AS tsl
           FROM events WHERE user_id < 100),
g AS (
  SELECT user_id, event_id, ts, tsl,
         CASE WHEN tsl - lag(tsl) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) > 1800
                   OR lag(tsl) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM e
),
s AS (
  SELECT user_id, ts, event_id, tsl,
         -- DuckDB window sum() over ints yields HUGEINT (int128), which the
         -- driver's value hash renders differently from Spark's bigint.
         cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS bigint)
           AS session_id
  FROM g
)
SELECT user_id, session_id, cast(count(*) AS bigint) AS n_events,
       cast(min(tsl) AS bigint) AS session_start
FROM s GROUP BY user_id, session_id
"""


def q_multimodal_features(spark, sf_dir):
    from nativeextractor_spark.textops.multimodal import (
        build_media_df,
        extract_features,
    )

    media = build_media_df(spark, n=24)
    # payload_md5 is computed INSIDE the Arrow-batched kernel, so a value
    # match proves the binary column crossed the Arrow boundary byte-exactly
    return extract_features(media, checksum=True).select(
        "media_id", "kind", "n_bytes", "payload_md5"
    )


def _multimodal_oracle_sql() -> str:
    """Inline the deterministic media payloads as blob literals; DuckDB
    recomputes byte length and md5(hex(payload)) independently."""
    from nativeextractor_spark.textops.multimodal import build_media_rows

    vals = ", ".join(
        "({}, '{}', '{}'::BLOB)".format(
            i, kind, "".join(f"\\x{b:02X}" for b in payload)
        )
        for i, kind, payload, _meta in build_media_rows(n=24, seed=42)
    )
    return f"""
SELECT cast(media_id AS BIGINT) AS media_id, kind,
       cast(octet_length(payload) AS INTEGER) AS n_bytes,
       md5(hex(payload)) AS payload_md5
FROM (VALUES {vals}) AS m(media_id, kind, payload)
"""


O_MULTIMODAL_FEATURES = _multimodal_oracle_sql()


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES = {
    "glob_token_the": q_glob_token_the,
    "glob_star_sk": q_glob_star_sk,
    "glob_star_first": q_glob_star_first,
    "glob_multi_star": q_glob_multi_star,
    "ner_prefix_match": q_ner_prefix_match,
    "fixture_entities": q_fixture_entities,
    "fixture_glob_counts": q_fixture_glob_counts,
    "regex_dfa_fixture": q_regex_dfa_fixture,
    "date_fixture": q_date_fixture,
    "person_org_fixture": q_person_org_fixture,
    "enclosed_filter": q_enclosed_filter,
    "sort_rank": q_sort_rank,
    "link_entities": q_link_entities,
    "triples_fixture": q_triples_fixture,
    "triple_weights_fixture": q_triple_weights_fixture,
    "cc_components": q_cc_components,
    "canonical_groups": q_canonical_groups,
    "dedup_exact": q_dedup_exact,
    "minhash_bands": q_minhash_bands,
    "lsh_dup_pairs": q_lsh_dup_pairs,
    "ngram_jaccard": q_ngram_jaccard,
    "simhash": q_simhash,
    "simhash_dup_pairs": q_simhash_dup_pairs,
    "ann_topk": q_ann_topk,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "ann_ivf_kmeans": q_ann_ivf_kmeans,
    "ann_recall": q_ann_recall_all,
    "embedding_dup_pairs": q_embedding_dup_pairs,
    "lang_id": q_lang_id,
    "quality": q_quality,
    "token_counts": q_token_counts,
    "fingerprint": q_fingerprint,
    "winnow_fp": q_winnow_fp,
    "gopher_filters": q_gopher_filters,
    "gopher_repetition": q_gopher_repetition,
    "gopher_repetition_span": q_gopher_repetition_span,
    "dup_span_stats": q_dup_span_stats,
    "dup_span_removal": q_dup_span_removal,
    "line_dedup": q_line_dedup,
    "curate_corpus": q_curate_corpus,
    "curate_corpus_metrics": q_curate_corpus_metrics,
    "redact_pii": q_redact_pii,
    "tpch_q1": q_tpch_q1,
    "tpch_q3_topk": q_tpch_q3_topk,
    "events_window": q_events_window,
    "rollup_orders": q_rollup_orders,
    "anti_join_new_nodes": q_anti_join_new_nodes,
    "event_sessions": q_event_sessions,
    "multimodal_features": q_multimodal_features,
}


def build_oracles() -> dict[str, str]:
    return {
        "glob_token_the": O_GLOB_TOKEN_THE,
        "glob_star_sk": O_GLOB_STAR_SK,
        "glob_star_first": O_GLOB_STAR_FIRST,
        "glob_multi_star": O_GLOB_MULTI_STAR,
        "ner_prefix_match": O_NER_PREFIX_MATCH,
        "fixture_entities": O_FIXTURE_ENTITIES,
        "fixture_glob_counts": O_FIXTURE_GLOB_COUNTS,
        "regex_dfa_fixture": O_REGEX_DFA_FIXTURE,
        "date_fixture": O_DATE_FIXTURE,
        "person_org_fixture": O_PERSON_ORG_FIXTURE,
        "enclosed_filter": O_ENCLOSED_FILTER,
        "sort_rank": O_SORT_RANK,
        "link_entities": O_LINK_ENTITIES,
        "triples_fixture": _o_triples_fixture(),
        "triple_weights_fixture": _o_triple_weights_fixture(),
        "cc_components": O_CC_COMPONENTS,
        "canonical_groups": O_CANONICAL_GROUPS,
        "dedup_exact": O_DEDUP_EXACT,
        "minhash_bands": O_MINHASH_BANDS,
        "lsh_dup_pairs": O_LSH_DUP_PAIRS,
        "ngram_jaccard": O_NGRAM_JACCARD,
        "ann_topk": O_ANN_TOPK,
        "lang_id": O_LANG_ID,
        "quality": O_QUALITY,
        "token_counts": O_TOKEN_COUNTS,
        "fingerprint": O_FINGERPRINT,
        "winnow_fp": O_WINNOW_FP,
        "gopher_filters": O_GOPHER_FILTERS,
        "gopher_repetition": O_GOPHER_REPETITION,
        "gopher_repetition_span": O_GOPHER_REPETITION_SPAN,
        "dup_span_stats": O_DUP_SPAN_STATS,
        "dup_span_removal": O_DUP_SPAN_REMOVAL,
        "line_dedup": O_LINE_DEDUP,
        "curate_corpus": O_CURATE_CORPUS,
        "curate_corpus_metrics": O_CURATE_CORPUS_METRICS,
        "redact_pii": _o_redact_pii(),
        "tpch_q1": O_TPCH_Q1,
        "tpch_q3_topk": O_TPCH_Q3_TOPK,
        "events_window": O_EVENTS_WINDOW,
        "rollup_orders": O_ROLLUP_ORDERS,
        "anti_join_new_nodes": O_ANTI_JOIN_NEW_NODES,
        "event_sessions": O_EVENT_SESSIONS,
        "simhash": O_SIMHASH,
        "simhash_dup_pairs": O_SIMHASH_DUP_PAIRS,
        "ann_lsh": O_ANN_LSH,
        "ann_ivf": O_ANN_IVF,
        "ann_ivf_kmeans": _ann_ivf_kmeans_oracle_sql(),
        "ann_recall": _ann_recall_all_oracle_sql(),
        "embedding_dup_pairs": O_EMBEDDING_DUP_PAIRS,
        "multimodal_features": O_MULTIMODAL_FEATURES,
    }
