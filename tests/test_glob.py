"""Glob miner golden counts, ported 1:1 from /root/reference/tests/glob.c."""

import pytest

from nativeextractor_spark.functions.unicode import is_bmp
from nativeextractor_spark.miners import GlobMiner, PatternMiner, glob_to_regex, is_glob
from nativeextractor_spark.miners.glob_exact import reference_glob_scan

SONG = (
    "Twinkle twinkle little star "
    "I want to hit you with a car "
    "Throw you off a cliff so high "
    "Hope you break your neck and die"
)

# (text, glob, expected count) — sources in comments
CASES = [
    ("abc abcdef abc", "abc", 2),  # glob.c:233-239 exact_match
    ("abc abcdef abc", "abcdef", 1),
    ("abc abcdef abc", "def", 0),
    ("abc abcdef abc", "abc abcdef abc", 1),
    ("bat cat mat lat", "[bclm]at", 4),  # glob.c:246-249 character_range
    ("bat mat mad pat lat lot lit", "l?t", 3),  # glob.c:256-262
    ("bat mat mad pat lat lot lit", "?a?", 5),
    ("http://2432.spongedata.cz", "????", 2),  # glob.c:192-214,260-261 test_glob2
    (SONG, "*", 26),  # glob.c:269-280 any_string_wildcard
    (SONG, "*kle", 2),
    (SONG, "T*kle", 2),  # case-insensitive
    (SONG, "*i*k*", 2),
    ("[abc]de ade bde cde", r"\a\d\e", 1),  # glob.c:287-292 escape
    ("[abc]de ade bde cde", r"\[abc\]de", 1),
    ("[", r"[\[\]\*\?]", 1),
    ("russel", "[pqrstabc]?*l", 1),  # glob.c:299-309 mixed
    (
        "awliefduzs78bxc dfueilq234zdhiu 2w45ry7uu7748ju8778",
        "*[abc]*[a-f]*[1-9]*",
        1,
    ),
]


@pytest.mark.parametrize("text,glob,expected", CASES)
def test_golden_counts(text, glob, expected):
    assert len(list(GlobMiner(glob).find(text))) == expected


def test_star_spans_whole_tokens():
    occs = list(GlobMiner("*kle").find(SONG))
    assert [(o.ustart, o.uend) for o in occs] == [(0, 7), (8, 15)]
    assert [SONG[o.ustart : o.uend] for o in occs] == ["Twinkle", "twinkle"]


def test_label_default():
    occ = next(iter(GlobMiner("abc").find("abc")))
    assert occ.label == "Glob" and occ.prob == 1.0


def test_glob_pattern_file_fixture():
    """extractor.c:104-127 mining_with_params: glob '*' first match on the
    test_glob_patterns.txt fixture is 'abc' with label Glob."""
    text = "abc\ndef\nabcdef\ndomain\n[abcdef][abc-f][a-f]\n???\n*def\n*"
    occs = list(GlobMiner("*").find(text))
    first = occs[0]
    assert text[first.ustart : first.uend] == "abc"
    assert first.label == "Glob"


def test_empty_document():
    """extractor.c:62-69: empty stream → EOF immediately, no occurrences."""
    assert list(GlobMiner("*").find("")) == []


def test_mid_star_cannot_cross_delimiter():
    # reference retnul at glob_entities.c:190: '*' never crosses a delimiter
    assert len(list(GlobMiner("a*z").find("abc xyz"))) == 0
    assert len(list(GlobMiner("a*c").find("abc xyz"))) == 1


def test_is_glob_validator():
    assert is_glob("[a-f]*?")
    assert not is_glob("[abc")
    assert not is_glob("abc]def[")
    assert not is_glob("[a--f]")


def test_is_glob_escaped_dash():
    """C `continue` on the escape branch skips the prelast/last update
    (glob_entities.c:271-274): after "\\-", `last` still points at the
    backslash, so '[\\--]' is valid while '[--]' is not."""
    assert is_glob("[\\--]")
    assert not is_glob("[--]")
    assert not is_glob("[a--]")


@pytest.mark.parametrize("text,glob,expected", CASES)
def test_golden_counts_regex_engine(text, glob, expected):
    """The regex engine (the translated glob under ``re.finditer``)
    passes every reference fixture too."""
    miner = PatternMiner("Glob", glob_to_regex(glob, bmp=is_bmp(text)))
    assert len(list(miner.find(text))) == expected


@pytest.mark.parametrize("text,glob,expected", CASES)
def test_golden_counts_exact_engine(text, glob, expected):
    """The exact machine passes every reference fixture — pins that
    engine-selection improvements (r4 star-first prefilter/fast path)
    keep the exact path bit-equal."""
    assert len(reference_glob_scan(text, glob)) == expected


def test_star_first_miner_and_exact_spans_agree():
    """Star-first globs through GlobMiner (the regex engine): spans (not
    just counts) equal the exact machine on the reference song and on
    delimiter-run-heavy text."""
    texts = [SONG, "abc  kle", "  kle", "x kkle", "tackle  pickle\tkle.kle"]
    for g in ("*", "*kle", "*k?e", "*[kK]le"):
        miner = GlobMiner(g)
        assert miner.engine == "regex", g
        for t in texts:
            got = [(o.ustart, o.uend) for o in miner.find(t)]
            assert got == reference_glob_scan(t, g), (g, t)
