"""Property tests for the three glob engines (regex, fast_star, exact).

The exact engine (miners/glob_exact.py) is a literal transcription of the
reference scan machine, including the failure-advance guard: a failed
attempt's cursor movement and leaked end-mark block later scan candidates
(extractor.c:59 + miner.c:25-33). finditer-style regex scanning cannot
express that, so the regex translation is exactly equivalent only where
the guard cannot overshoot a candidate:

A. star-free, delimiter-free globs over ANY text — a failed attempt skips
   precisely to the next token start (= the next regex anchor), and
   star-free attempts never leak an end-mark;
B. ANY glob over delimiter-free text — there is a single scan candidate.

Both are property-tested span-exactly below, and the divergence class is
pinned by a regression test. Every star class GlobMiner routes to the
regex or fast_star engine is property-tested through ``GlobMiner.find``
against the naive per-position walk of the exact machine.
"""

from hypothesis import given, settings, strategies as st

from nativeextractor_spark.functions.unicode import is_bmp
from nativeextractor_spark.miners import GlobMiner, PatternMiner, glob_to_regex, is_glob
from nativeextractor_spark.miners.glob_exact import reference_glob_scan

_LIT = "abcxyZ"


@st.composite
def starfree_globs(draw):
    n = draw(st.integers(1, 5))
    parts = []
    for _ in range(n):
        kind = draw(st.sampled_from(["lit", "lit", "q", "set", "esc"]))
        if kind == "lit":
            parts.append(draw(st.sampled_from(_LIT)))
        elif kind == "q":
            parts.append("?")
        elif kind == "esc":
            parts.append("\\" + draw(st.sampled_from("abcx")))
        else:
            m = draw(st.integers(1, 3))
            inner = []
            for _ in range(m):
                t = draw(st.sampled_from(["c", "c", "range"]))
                if t == "c":
                    inner.append(draw(st.sampled_from("abcx")))
                else:
                    lo = draw(st.sampled_from("abx"))
                    hi = chr(ord(lo) + draw(st.integers(1, 3)))
                    inner.append(f"{lo}-{hi}")
            parts.append("[" + "".join(inner) + "]")
    return "".join(parts)


@st.composite
def any_globs(draw):
    base = draw(starfree_globs())
    stars = draw(st.integers(0, 2))
    out = base
    for _ in range(stars):
        k = draw(st.integers(0, len(out)))
        out = out[:k] + "*" + out[k:]
    return out


def _spans(miner, text):
    return [(o.ustart, o.uend) for o in miner.find(text)]


def _regex_spans(glob, text):
    """The regex engine's scan: the translated glob under re.finditer."""
    miner = PatternMiner("Glob", glob_to_regex(glob, bmp=is_bmp(text)))
    return _spans(miner, text)


@settings(max_examples=300, deadline=None)
@given(
    text=st.text(alphabet="abcABC .x-", min_size=0, max_size=40),
    glob=starfree_globs(),
)
def test_starfree_globs_engines_agree_on_any_text(text, glob):
    if not is_glob(glob):
        return
    exact = reference_glob_scan(text, glob)
    fast = _regex_spans(glob, text)
    assert fast == exact, f"text={text!r} glob={glob!r}"


@settings(max_examples=300, deadline=None)
@given(
    text=st.text(alphabet="abcABCxZ", min_size=0, max_size=25),
    glob=any_globs(),
)
def test_any_glob_engines_agree_on_delimiter_free_text(text, glob):
    if not is_glob(glob):
        return
    exact = reference_glob_scan(text, glob)
    fast = _regex_spans(glob, text)
    assert fast == exact, f"text={text!r} glob={glob!r}"


def test_guard_divergence_class_documented():
    """Failed attempts advance the reference guard past later candidates;
    the regex path intentionally approximates token-aligned scanning."""
    # multi-delimiter consumption by a failed star attempt
    assert reference_glob_scan("a.a.b", "a*b") == []
    assert _regex_spans("a*b", "a.a.b") == [(2, 5)]
    # leaked end-mark from a failed recursive rest-match
    assert reference_glob_scan("a  aa", "a*?") == []
    assert _regex_spans("a*?", "a  aa") == [(3, 5)]
    # so neither glob may run on the regex engine
    assert GlobMiner("a*b").engine != "regex"
    assert GlobMiner("a*?").engine != "regex"


def test_auto_engine_selection():
    """GlobMiner picks the fastest proven-equivalent engine per pattern
    class."""
    from nativeextractor_spark.miners.glob import regex_engine_safe

    assert GlobMiner("the").engine == "regex"  # star-free, delimiter-free
    assert GlobMiner("[a-f]x?").engine == "regex"
    assert GlobMiner("ab*").engine == "regex"  # trailing star (r3 proof)
    assert GlobMiner("s*k").engine == "fast_star"  # single mid-star (r3)
    assert GlobMiner("b*?").engine == "fast_star"
    assert GlobMiner("s*[kx]").engine == "fast_star"  # set-rest (quirk: no skip-probe)
    assert GlobMiner("*k").engine == "regex"  # star-first, failures cannot leak
    assert GlobMiner("*").engine == "regex"  # bare star
    assert GlobMiner("*[kx]a").engine == "regex"  # star-first set rest
    assert GlobMiner("a*b*c").engine == "exact"  # multi-star, no trailing star
    assert GlobMiner("*a*").engine == "regex"  # star-first multi-star trailing
    assert GlobMiner("*i*k*").engine == "regex"  # glob.c:269-280 golden
    assert GlobMiner("a*b*").engine == "fast_star"  # prefix multi-star (r5)
    assert GlobMiner("a*[b]*c*").engine == "fast_star"  # prefix, set segment
    assert GlobMiner("*[ab]*[c-x]*").engine == "regex"  # set segments
    assert GlobMiner("*a*b").engine == "exact"  # star-first, no trailing star
    assert GlobMiner("a**").engine == "exact"  # empty mid segment
    assert GlobMiner("a*b*.").engine == "exact"  # delimiter in segment
    assert GlobMiner("*\\a").engine == "exact"  # escape in rest
    assert GlobMiner("a.b").engine == "exact"  # literal delimiter
    assert GlobMiner("a*.").engine == "exact"  # delimiter in rest
    assert GlobMiner("\\a").engine == "exact"  # escape probes raw backslash
    assert GlobMiner("[a.]").engine == "exact"  # delimiter in set
    assert not regex_engine_safe("[a\\-b]")  # escape inside set


@st.composite
def single_star_globs(draw):
    a = draw(starfree_globs())
    b = draw(starfree_globs())
    return a + "*" + b


@st.composite
def prefix_multi_star_globs(draw):
    a = draw(starfree_globs())
    mids = draw(st.lists(starfree_globs(), min_size=1, max_size=3))
    return a + "*" + "*".join(mids) + "*"


@settings(max_examples=400, deadline=None)
@given(
    text=st.text(alphabet="abcABC .x-\t?", min_size=0, max_size=45),
    glob=st.one_of(single_star_globs(), prefix_multi_star_globs()),
)
def test_fast_star_scan_equals_naive_walk(text, glob):
    """The fast_star engine (``A*B`` and ``A*B1*...*``) must be
    span-identical to the literal per-position extractor walk — including
    failure-advance guards and end-mark leaks — on arbitrary text over its
    whole pattern class."""
    from nativeextractor_spark.miners.glob_exact import (
        _reference_glob_scan_naive,
        fast_star_class,
        multi_star_trailing_class,
    )

    if not is_glob(glob) or (
        fast_star_class(glob) is None and multi_star_trailing_class(glob) is None
    ):
        return
    miner = GlobMiner(glob)
    assert miner.engine == "fast_star", glob
    assert _spans(miner, text) == _reference_glob_scan_naive(
        text, glob
    ), f"text={text!r} glob={glob!r}"


@settings(max_examples=400, deadline=None)
@given(
    text=st.text(alphabet="abcABC .x-\t?", min_size=0, max_size=45),
    glob=st.one_of(st.just(""), starfree_globs()).map(lambda b: "*" + b),
)
def test_star_first_scan_equals_naive_walk(text, glob):
    """Star-first ``*B`` globs on the regex engine (token-start anchor, no
    leak) must be span-identical to the literal extractor walk on
    arbitrary text over their whole class — including the bare ``*``
    glob."""
    from nativeextractor_spark.miners.glob import star_first_safe
    from nativeextractor_spark.miners.glob_exact import (
        _reference_glob_scan_naive,
    )

    if not is_glob(glob) or not star_first_safe(glob):
        return
    miner = GlobMiner(glob)
    assert miner.engine == "regex", glob
    assert _spans(miner, text) == _reference_glob_scan_naive(
        text, glob
    ), f"text={text!r} glob={glob!r}"


@settings(max_examples=300, deadline=None)
@given(
    text=st.text(alphabet="abcABC .x-\t?", min_size=0, max_size=45),
    glob=st.tuples(starfree_globs(), starfree_globs()).map(
        lambda ab: "*" + ab[0] + "*" + ab[1]
    ),
)
def test_star_first_multistar_scan_equals_naive_walk(text, glob):
    """NON-trailing multi-star star-first patterns (``*A*B``, B non-empty)
    stay on the exact machine (r4 measured the token-start prefilter ~15%
    SLOWER for them — no first element to reject candidates; r5 moved only
    the trailing-star shapes, whose failures provably cannot leak); pin
    that the full scan entrypoint remains walk-identical for this class."""
    from nativeextractor_spark.miners.glob_exact import (
        _reference_glob_scan_naive,
        reference_glob_scan,
    )

    if not is_glob(glob):
        return
    assert reference_glob_scan(text, glob) == _reference_glob_scan_naive(
        text, glob
    ), f"text={text!r} glob={glob!r}"


@st.composite
def multi_star_trailing_globs(draw):
    a = draw(st.one_of(st.just(""), starfree_globs()))
    k = draw(st.integers(1, 3))
    mids = [draw(starfree_globs()) for _ in range(k)]
    return a + "*" + "*".join(mids) + "*"


@settings(max_examples=400, deadline=None)
@given(
    text=st.text(alphabet="abcABC .x-\t?", min_size=0, max_size=45),
    glob=multi_star_trailing_globs(),
)
def test_multi_star_trailing_scan_equals_naive_walk(text, glob):
    """Multi-star trailing-star globs (``A*B1*...*`` on fast_star,
    ``*B1*...*`` on regex) must be span-identical to the literal
    per-position extractor walk — including failure-advance guards — on
    arbitrary text over their whole pattern class."""
    from nativeextractor_spark.miners.glob_exact import (
        _reference_glob_scan_naive,
        multi_star_trailing_class,
    )

    if not is_glob(glob) or multi_star_trailing_class(glob) is None:
        return
    miner = GlobMiner(glob)
    assert miner.engine == ("regex" if glob[0] == "*" else "fast_star"), glob
    assert _spans(miner, text) == _reference_glob_scan_naive(
        text, glob
    ), f"text={text!r} glob={glob!r}"


def test_multi_star_reference_goldens_on_regex_engine():
    """The two reference multi-star fixtures (glob.c:269-280,
    glob.c:299-309) run the regex engine — equal spans to the naive walk
    and the golden counts."""
    from nativeextractor_spark.miners.glob_exact import (
        _reference_glob_scan_naive,
    )

    song = (
        "Twinkle twinkle little star I want to hit you with a car "
        "Throw you off a cliff so high Hope you break your neck and die"
    )
    mixed = "awliefduzs78bxc dfueilq234zdhiu 2w45ry7uu7748ju8778"
    for text, glob, n in [
        (song, "*i*k*", 2),
        (mixed, "*[abc]*[a-f]*[1-9]*", 1),
    ]:
        miner = GlobMiner(glob)
        assert miner.engine == "regex"
        got = _spans(miner, text)
        assert len(got) == n
        assert got == _reference_glob_scan_naive(text, glob)


@settings(max_examples=300, deadline=None)
@given(
    text=st.text(alphabet="abcABC .x-\t", min_size=0, max_size=45),
    glob=starfree_globs(),
)
def test_trailing_star_regex_equals_naive_walk(text, glob):
    """Trailing-star globs (A*) with a safe prefix are scan-equivalent to
    the regex engine: A-failures are state-irrelevant and A-matches always
    succeed at the token boundary."""
    from nativeextractor_spark.miners.glob import trailing_star_safe
    from nativeextractor_spark.miners.glob_exact import (
        _reference_glob_scan_naive,
    )

    g = glob + "*"
    if not is_glob(g) or not trailing_star_safe(g):
        return
    got = _regex_spans(g, text)
    assert got == _reference_glob_scan_naive(text, g), f"text={text!r} g={g!r}"


def test_fast_star_end_mark_leak_regression():
    """The 'b??AbA'/'b*?' counterexample that broke the r2 prefilter
    equivalence proof: a failed rest recursion leaks its mark_end, parking
    the guard mid-token; the fast scan must attempt that unanchored
    position literally, like the naive walk."""
    from nativeextractor_spark.miners.glob_exact import (
        _reference_glob_scan_naive,
        fast_star_scan,
    )

    for text in ["b??AbA", "b??AbA b", "a  aa", "bA bAA b"]:
        for glob in ["b*?", "a*?"]:
            assert fast_star_scan(text, glob) == _reference_glob_scan_naive(
                text, glob
            ), (text, glob)


@settings(max_examples=200, deadline=None)
@given(
    text=st.text(alphabet="abcABC .x-\\", min_size=0, max_size=40),
    glob=any_globs(),
)
def test_auto_engine_matches_exact_on_any_text(text, glob):
    """The auto-selected engine must be span-identical to the exact machine
    on arbitrary text — the whole point of the safety predicate."""
    if not is_glob(glob):
        return
    auto = _spans(GlobMiner(glob), text)
    exact = reference_glob_scan(text, glob)
    assert auto == exact, f"text={text!r} glob={glob!r}"


@settings(max_examples=400, deadline=None)
@given(
    text=st.text(alphabet="abcABC .x-\\?*[", min_size=0, max_size=45),
    glob=any_globs(),
)
def test_prefiltered_scan_equals_naive_walk(text, glob):
    """The candidate-prefiltered exact scan must be span-identical to the
    literal per-position extractor walk on arbitrary text and globs."""
    from nativeextractor_spark.miners.glob_exact import (
        _reference_glob_scan_naive,
        reference_glob_scan,
    )

    if not is_glob(glob):
        return
    assert reference_glob_scan(text, glob) == _reference_glob_scan_naive(
        text, glob
    ), f"text={text!r} glob={glob!r}"


def test_bracket_first_set_star_is_not_a_wildcard():
    """Regression (r3 review): a ']'-first set whose '*' is a set MEMBER
    must not be counted as a top-level star — 'a[]*x[y]k' routes to the
    exact engine (the '['-quirk makes it delimiter-starting) and mines
    identically to the naive walk instead of crashing in fast_star setup."""
    from nativeextractor_spark.miners.glob import split_single_star
    from nativeextractor_spark.miners.glob_exact import (
        _reference_glob_scan_naive,
    )

    g = "a[]*x[y]k"
    assert is_glob(g)
    assert split_single_star(g) is None  # '*' is inside the set
    m = GlobMiner(g)
    text = "ax yk a]k axk"
    assert _spans(m, text) == _reference_glob_scan_naive(text, g)


def _first_astral(delim: bool) -> str:
    from nativeextractor_spark.functions.unicode import class_mask

    mask = class_mask("delim")
    return next(chr(cp) for cp in range(0x10000, 0x110000) if bool(mask[cp]) == delim)


def test_is_bmp():
    from nativeextractor_spark.functions.unicode import is_bmp

    assert is_bmp("") and is_bmp("abc") and is_bmp("řeč \ud800")
    assert not is_bmp("a" + _first_astral(True))


# one glob per routed shape: regex (star-free, trailing star, star-first,
# star-first multi-star), fast_star (mid-star, prefix multi-star), exact
_ENGINE_GLOBS = ["ab", "?b", "a*", "a*b", "*b", "*a*b*", "a*b*", "a*b*c"]


@settings(max_examples=300, deadline=None)
@given(
    text=st.text(
        alphabet="ab .x" + _first_astral(True) + _first_astral(False),
        min_size=0,
        max_size=40,
    ),
    glob=st.sampled_from(_ENGINE_GLOBS),
)
def test_auto_engines_equal_naive_walk_on_astral_text(text, glob):
    """Text with astral characters takes the full delimiter classes: an
    astral delimiter still ends a token and an astral letter does not."""
    from nativeextractor_spark.miners.glob_exact import _reference_glob_scan_naive

    assert _spans(GlobMiner(glob), text) == _reference_glob_scan_naive(text, glob), (
        f"text={text!r} glob={glob!r}"
    )
