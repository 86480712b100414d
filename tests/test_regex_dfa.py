"""Regex→NFA→DFA compiler parity tests (reference R1-R5 + run-to-stuck)."""

import pytest

from nativeextractor_spark.miners.regex_dfa import (
    DfaMiner,
    RegexParseError,
    compile_regex,
)

FIXTURE_REGEX_0 = "asds ad +919367788755 asdad\nadsadas test@gmail.com asds sdščččč---"


def _matches(pattern, text):
    m = DfaMiner("X", pattern)
    return [text[o.ustart : o.uend] for o in m.find(text)]


def test_reference_fixture_email_tel():
    """tests/regex_miner.c:71-91 — the two reference regexes, exactly 2 hits."""
    email = DfaMiner("EMAIL", r"[^@ \t\r\n]+@[^@ \t\r\n]+\.[^@ \t\r\n]+")
    tel = DfaMiner("TEL_NO", r"[+]?[(]?[0-9]{3}[)]?[-\s.]?[0-9]{3}[-\s.]?[0-9]{4,6}")
    occs = list(email.find(FIXTURE_REGEX_0)) + list(tel.find(FIXTURE_REGEX_0))
    got = {(o.label, FIXTURE_REGEX_0[o.ustart : o.uend]) for o in occs}
    assert ("EMAIL", "test@gmail.com") in got
    assert ("TEL_NO", "+919367788755") in got


def test_nfa_dfa_wikipedia_smoke():
    """tests/finite_automaton.c:25-61 — powerset construction smoke."""
    dfa = compile_regex("(a|b)*abb")
    assert dfa.table.shape[0] >= 3
    assert _matches("(a|b)*abb", "aababb xx") == ["aababb"]


def test_run_to_stuck_semantics():
    """The generated DFA runs to exhaustion with no backtracking to an
    earlier final state (regex_generator.c:1156-1210): 'ab|abc.' on "abcX"
    matches through the longer branch; greedy overrun past a final into a
    dead end FAILS the whole candidate (unlike PCRE)."""
    assert _matches("ab(c.)?", "abcX y") == ["abcX"]
    # greedy overrun: a+ then 'ab' — DFA tracks both, still matches
    assert _matches("a+ab", "aaab") == ["aaab"]
    # stuck in non-final after overrun: a+ requires trailing b, input ends
    # with a run of a's → no backtracking, no match
    assert _matches("a+b", "aaa") == []


def test_closures_and_ranges():
    assert _matches("ab*", "a abb ab") == ["a", "abb", "ab"]
    assert _matches("ab+", "a abb ab") == ["abb", "ab"]
    assert _matches("ab?", "a abb ab") == ["a", "ab", "ab"]
    assert _matches("a{2,3}", "a aa aaa aaaa") == ["aa", "aaa", "aaa"]
    assert _matches("a{2}", "aa") == ["aa"]
    assert _matches("a{2,}", "aaaaa") == ["aaaaa"]


def test_char_classes_and_escapes():
    assert _matches(r"[a-c]+", "abcd") == ["abc"]
    assert _matches(r"[^a-c]+", "abXYc") == ["XY"]
    assert _matches(r"\d+", "ab 123 cd") == ["123"]
    assert _matches(r"\w+", "hi tam_1!") == ["hi", "tam_1"]
    assert _matches(r"\s+", "a \t b") == [" \t "]
    assert _matches(r"a.c", "a\nc abc") == ["abc"]  # '.' excludes newline


def test_anchors():
    assert _matches("^abc", "abc abc") == ["abc"]
    assert _matches("abc$", "abc abc")[-1] == "abc"
    assert len(_matches("abc$", "abc abc")) == 1


def test_alternation():
    assert _matches("cat|dog", "cat dog cow") == ["cat", "dog"]


def test_unicode_multibyte():
    assert _matches("č+", "aa ččč bb") == ["ččč"]


def test_parse_errors():
    with pytest.raises(RegexParseError):
        compile_regex("(abc")
    with pytest.raises(RegexParseError):
        compile_regex("a{2")
    with pytest.raises(RegexParseError):
        compile_regex("[abc")


def test_dfa_is_picklable():
    """DFA tables are broadcast to executors → must pickle."""
    import pickle

    m = DfaMiner("T", r"[0-9]{3}")
    m2 = pickle.loads(pickle.dumps(m))
    assert [o.ustart for o in m2.find("ab 123")] == [3]


def test_quantified_anchor_terminates():
    """ADVICE r1: an EOF pseudo-edge self-loop ('a$*') must not wedge the
    executor; each state's EOF move applies at most once per position."""
    m = DfaMiner("X", "a$*")
    assert [(o.ustart, o.uend) for o in m.find("ba")] == [(1, 2)]
    assert list(m.find("bb")) == []


def test_vectorized_matches_scalar_reference():
    """_match_ends_multi (NumPy batch executor) on one document ==
    _run_to_stuck per position."""
    import random

    import numpy as np

    from nativeextractor_spark.miners.regex_dfa import (
        _match_ends_multi,
        _run_to_stuck,
    )

    rng = random.Random(1234)
    pats = ["ab+c", "(a|b)*c", "x{2,4}", "[a-c]+d?", "a$*", "^ab", "colou?r",
            r"\w+@\w+", "a.c"]
    for pat in pats:
        dfa = compile_regex(pat)
        for _ in range(100):
            t = "".join(rng.choice("abcdx @\n.") for _ in range(rng.randint(0, 50)))
            codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
            n = codes.size
            doc_end = np.full(n, n, dtype=np.int64)
            doc_starts = np.zeros(1 if n else 0, dtype=np.int64)
            ve = _match_ends_multi(dfa, codes, doc_end, doc_starts)
            for p in range(n):
                se = _run_to_stuck(dfa, codes, p)
                assert ve[p] == (-1 if se is None else se), (pat, t, p)


def test_find_batch_matches_per_doc_find():
    """r8: find_batch runs one _match_ends_multi over the concatenated
    batch — per-doc EOF bounds and BOF pseudo-edges must keep a
    many-document batch occurrence-identical to one-document batches,
    including across the sub-batch flush boundary."""
    import random

    import nativeextractor_spark.miners.regex_dfa as rd

    rng = random.Random(99)
    alphabet = "ab c@0123.-+() \t\nřx$"
    miners = [
        rd.DfaMiner("EMAIL", r"[^@ \t\r\n]+@[^@ \t\r\n]+\.[^@ \t\r\n]+"),
        rd.DfaMiner("TEL", r"[+]?[(]?[0-9]{3}[)]?[-\s.]?[0-9]{3}[-\s.]?[0-9]{4,6}"),
        rd.DfaMiner("EDGE", r"ab*c?"),
    ]
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 200)))
        for _ in range(300)
    ] + ["", "a@b.cd", "řř +420 123 4567 x"]
    old = rd._BATCH_CHARS
    try:
        rd._BATCH_CHARS = 512  # force several flushes mid-batch
        for m in miners:
            assert m.find_batch(texts) == [m.find_batch([t])[0] for t in texts]
    finally:
        rd._BATCH_CHARS = old


def test_find_matches_scalar_scan_walk():
    """find() (one-document find_batch) equals the scan rule walked with
    the scalar executor: candidates at every position >= the last match
    end, run to stuck, empty matches rejected — on empty text, BOF and
    EOF pseudo-edges and astral characters."""
    import random

    import numpy as np

    from nativeextractor_spark.miners.regex_dfa import _run_to_stuck

    def walk(dfa, text):
        codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
        out, last = [], 0
        for p in range(codes.size):
            if p < last:
                continue
            e = _run_to_stuck(dfa, codes, p)
            if e is not None and e > p:
                out.append((p, e))
                last = e
        return out

    rng = random.Random(4321)
    pats = ["ab+c", "(a|b)*c", "x{2,4}", "a$*", "^ab", "b*", r"\w+@\w+"]
    texts = ["", "ab", "abab", "xxxxx", "a\U0001F600b@c"] + [
        "".join(rng.choice("abcx @\n\U0001F600") for _ in range(rng.randint(1, 40)))
        for _ in range(60)
    ]
    for pat in pats:
        m = DfaMiner("X", pat)
        for t in texts:
            got = [(o.ustart, o.uend) for o in m.find(t)]
            assert got == walk(m.dfa, t), (pat, t)


def test_codepoint_classes_match_full_unique_reference(monkeypatch):
    """The run-based codepoint partition gives the same class_of, table
    and final as classifying every codepoint's full membership signature
    with np.unique, on the builtin patterns and every pattern above."""
    import numpy as np

    import nativeextractor_spark.miners.regex_dfa as rd
    from nativeextractor_spark.miners.builtin import (
        EMAIL_SIMPLE_PATTERN,
        TEL_NO_PATTERN,
    )

    def naive_classes(sym_masks):
        if not sym_masks:
            return np.zeros(0x110000, dtype=np.uint16), np.zeros((0, 1), bool)
        stacked = np.stack(sym_masks).astype(np.int64)
        weights = (1 << np.arange(len(sym_masks), dtype=np.int64))[:, None]
        uniq, class_of = np.unique(
            (stacked * weights).sum(axis=0), return_inverse=True
        )
        sym_in_class = np.array(
            [(uniq >> k) & 1 for k in range(len(sym_masks))], dtype=bool
        )
        return class_of.astype(np.uint16), sym_in_class

    pats = [
        EMAIL_SIMPLE_PATTERN, TEL_NO_PATTERN,
        "(a|b)*abb", "ab(c.)?", "a+ab", "a+b", "ab*", "ab+", "ab?",
        "a{2,3}", "a{2}", "a{2,}", r"[a-c]+", r"[^a-c]+", r"\d+", r"\w+",
        r"\s+", r"a.c", "^abc", "abc$", "cat|dog", "č+", r"[0-9]{3}",
        "a$*", "(a|b)*c", "x{2,4}", "[a-c]+d?", "^ab", "colou?r",
        r"\w+@\w+", "^$",
    ]
    fast = {p: rd.compile_regex(p) for p in pats}
    monkeypatch.setattr(rd, "_codepoint_classes", naive_classes)
    for p in pats:
        ref = rd.compile_regex(p)
        got = fast[p]
        assert got.class_of.dtype == ref.class_of.dtype, p
        assert np.array_equal(got.class_of, ref.class_of), p
        assert np.array_equal(got.table, ref.table), p
        assert np.array_equal(got.final, ref.final), p
