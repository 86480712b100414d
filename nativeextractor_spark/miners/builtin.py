"""Builtin entity miners: EMAIL, URL, DATE, TEL_NO and a generic RegexMiner.

The reference ships the email miner as the canonical hand-written example
(``/root/reference/src/example/naive_email_miner.c``); URL/date/person miners
live in a non-free plugin (tests reference labels URL/EMAIL,
``/root/reference/tests/extractor.c:188-189``) so URL/DATE here are built from
public patterns with the same anchoring/label conventions.
"""

from __future__ import annotations

import re
from typing import Iterator

from nativeextractor_spark.functions.unicode import class_body
from nativeextractor_spark.miners.base import Miner, Occurrence, PatternMiner


class RegexMiner(PatternMiner):
    """Generic regex miner — the Spark analogue of the reference's
    regex→NFA→DFA→C pipeline (``/root/reference/src/regex_generator.c``):
    the pattern is compiled once at the driver, pickled to executors, and
    scanned by the C regex engine with leftmost non-overlapping semantics.

    Note: the reference's generated DFA uses run-to-stuck match semantics
    (no backtracking to an earlier final state — ``regex_generator.c:1156-1210``);
    Python `re` is leftmost-first. Both agree on all shipped reference
    fixtures (``tests/regex_miner.c``); the exact DFA path is available in
    :mod:`nativeextractor_spark.miners.regex_dfa`.
    """


# Reference test regexes (tests/regex_miner.c:33,40) — usable directly.
EMAIL_SIMPLE_PATTERN = r"[^@ \t\r\n]+@[^@ \t\r\n]+\.[^@ \t\r\n]+"
TEL_NO_PATTERN = r"[+]?[(]?[0-9]{3}[)]?[-\s.]?[0-9]{3}[-\s.]?[0-9]{4,6}"


def _alnum() -> str:
    return class_body("alnum")


_EMAIL_LEFT_SET: frozenset[str] | None = None


def _email_left_set() -> frozenset[str]:
    """Left-context chars (alnum ∪ {-,.,_}) as a set — per-char membership
    for the backwards walk from each '@'."""
    global _EMAIL_LEFT_SET
    if _EMAIL_LEFT_SET is None:
        import numpy as np

        from nativeextractor_spark.functions.unicode import class_mask

        cps = np.flatnonzero(class_mask("alnum"))
        _EMAIL_LEFT_SET = frozenset(map(chr, cps.tolist())) | frozenset("-._")
    return _EMAIL_LEFT_SET


class EmailMiner(Miner):
    """Parity port of the naive email miner
    (``/root/reference/src/example/naive_email_miner.c:118-154``).

    Anchored at '@'; left context = 1+ chars of alnum ∪ {-,.,_} (:29-46);
    right context = dot-separated subdomains of alnum ∪ {-,_}, greedy with no
    backtracking, requiring ≥2 subdomains and a final subdomain of ≥2 BYTES
    (:66-115). A greedy-failure (e.g. trailing dot, 1-byte TLD) rejects the
    whole candidate and the scan resumes after it, exactly like the reference
    cursor.
    """

    def __init__(self, label: str = "EMAIL"):
        self.label = label
        self._compiled: re.Pattern | None = None

    def __getstate__(self):
        state = self.__dict__.copy()
        state["_compiled"] = None
        return state

    @property
    def compiled(self) -> re.Pattern:
        """Right-context pattern, anchored just past the '@'."""
        if self._compiled is None:
            from nativeextractor_spark.miners.base import compile_cached

            dom = f"[{_alnum()}\\-_]"
            # (?:[dom]*\.)+ = 1+ dots (>=2 subdomains, empty mid-subdomains OK);
            # trailing (?![dom.]) = the greedy domain scan stopped here
            self._compiled = compile_cached(
                f"(?:{dom}*\\.)+(?P<last>{dom}+)(?!{dom}|\\.)"
            )
        return self._compiled

    def find(self, text: str) -> Iterator[Occurrence]:
        """'@'-anchored scan, like the reference cursor (which walks LEFT
        from the '@', naive_email_miner.c:29-46): a C-speed ``str.find('@')``
        replaces leading-class regex scanning, which backtracks
        quadratically on plain text.

        end_last semantics match miner.c exactly: ``pos`` (= end_last)
        advances ONLY on a successful make_occurrence — a failed attempt
        (short TLD, validate_domain failure) leaves it unchanged
        (miner.c:271 runs after the guards), so e.g. 'x@a.b@c.de' still
        emits 'a.b@c.de'. A maximal left run that would start before
        end_last fails the whole attempt (mark_start guard, miner.c:36-38;
        in practice unreachable here because the domain lookahead guarantees
        text[end_last] is never a left-class char)."""
        left_set = _email_left_set()
        right = self.compiled
        pos = 0
        i = text.find("@")
        while i != -1:
            if i > pos:  # left run needs >=1 char at index >= pos
                m = right.match(text, i + 1)
                if m is not None:
                    s = i
                    while s > 0 and text[s - 1] in left_set:
                        s -= 1
                    # mark_start parity: the maximal run must not cross
                    # end_last; last subdomain >=2 BYTES
                    # (naive_email_miner.c:105-112) BEFORE end_last moves
                    if (
                        pos <= s < i
                        and len(m.group("last").encode("utf-8")) >= 2
                    ):
                        pos = m.end()
                        yield Occurrence(s, pos, self.label, 1.0)
            i = text.find("@", i + 1)


class UrlMiner(PatternMiner):
    """URL miner: scheme-anchored, consumes non-space chars, then strips
    trailing sentence punctuation. Matches the reference test expectation
    (label URL, whole ``http://www.root.cz?limit=20`` span —
    ``/root/reference/tests/extractor.c:74-94``)."""

    _STRIP = ".,;:!?)]}'\"'>"

    def __init__(self, label: str = "URL"):
        super().__init__(
            label,
            r"(?:[A-Za-z][A-Za-z0-9+.\-]*://|www\.)[^\s<>\"']+",
        )

    def find(self, text: str) -> Iterator[Occurrence]:
        for m in self.compiled.finditer(text):
            end = m.end()
            while end > m.start() and text[end - 1] in self._STRIP:
                end -= 1
            if end > m.start():
                yield Occurrence(m.start(), end, self.label, self.prob)


_MONTHS = (
    "January|February|March|April|May|June|July|August|September|October|"
    "November|December|Jan|Feb|Mar|Apr|Jun|Jul|Aug|Sep|Sept|Oct|Nov|Dec"
)


class DateMiner(PatternMiner):
    """DATE miner: ISO dates, slashed dates, and English month-name dates."""

    def __init__(self, label: str = "DATE"):
        super().__init__(
            label,
            r"(?<![0-9])(?:"
            r"[0-9]{4}-[0-9]{2}-[0-9]{2}"
            r"|[0-9]{1,2}/[0-9]{1,2}/[0-9]{2,4}"
            rf"|(?:{_MONTHS})\.? [0-9]{{1,2}}(?:st|nd|rd|th)?, [0-9]{{4}}"
            r")(?![0-9])",
        )


class TelephoneMiner(RegexMiner):
    """TEL_NO miner using the reference's own test regex
    (``/root/reference/tests/regex_miner.c:40``)."""

    def __init__(self, label: str = "TEL_NO"):
        super().__init__(label, TEL_NO_PATTERN)


_ORG_SUFFIXES = (
    "Inc|Corp|Corporation|Ltd|LLC|GmbH|Co|Company|Industries|Labs|Systems|"
    "Group|Works|AG|SA|PLC"
)


class PersonNameMiner(PatternMiner):
    """Heuristic PER miner: 2-3 capitalized words (optional middle initial),
    excluding org-suffix words. Complements the gazetteer — the reference's
    person miner ships in the non-free plugin (M5), so this is a
    public-pattern reimplementation. Known limitation of any title-case
    heuristic: a capitalized sentence-initial word followed by a name reads
    as a name ("Ask Bob" → PER); precision-critical pipelines should prefer
    the gazetteer and use this as a recall supplement."""

    def __init__(self, label: str = "PER"):
        w = rf"(?!(?:{_ORG_SUFFIXES})\b)[A-Z][a-z]{{1,20}}"
        super().__init__(
            label,
            rf"\b{w}(?: [A-Z]\.)? {w}(?: {w})?\b(?! (?:{_ORG_SUFFIXES})\b)",
        )


class OrgNameMiner(PatternMiner):
    """Heuristic ORG miner: capitalized word run ending in a legal/org suffix."""

    def __init__(self, label: str = "ORG"):
        word = r"[A-Z][A-Za-z0-9&\-]{1,24}"
        super().__init__(
            label,
            rf"\b(?:{word} )+(?:{_ORG_SUFFIXES})\b",
        )
