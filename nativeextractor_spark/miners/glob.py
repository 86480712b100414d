"""Glob miner: compile reference glob patterns to anchored regexes.

Reference implementation: ``/root/reference/src/miners/glob_entities.c:124-260``
(parser/backtracker), validator ``is_glob`` (:263-308), delimiter-skip macro
``retnul`` (:29-37). Semantics reproduced here (verified against the golden
counts in ``/root/reference/tests/glob.c``):

- Matching is **case-insensitive** per pattern char: the text char must equal
  ``tolower(c)`` or ``toupper(c)`` of the pattern char (:40-55).
- Candidate match starts are BOF or any position immediately after a delimiter
  (space ∪ punct ∪ cntrl): on failure the scan skips past the next delimiter
  (``retnul``), on success the token-end delimiter is consumed — both resume
  the scan at a post-delimiter position. Encoded as the anchor
  ``(?:\\A|(?<=[delim]))``.
- ``?`` = one non-delimiter char (:57-63).
- ``*`` at pattern end = greedy run of non-delimiters to token end (:153-159).
- ``*`` mid-pattern = shortest extension such that the rest matches, tried at
  the current position first, then at successive positions whose char is
  non-delimiter (:161-191). Encoded as ``(?:|[^delim]+?(?=[^delim]))`` —
  the lookahead reproduces the reference's refusal to restart the rest at a
  delimiter position after non-zero consumption (:190).
- ``[set]`` supports escapes and ``a-b`` codepoint ranges; each range member
  matches case-insensitively; an escape also admits a literal backslash
  (quirk of the reference parse loop, :196-225 — the ``\\`` char itself is
  probed by ``match_character`` before the escaped char is).
- The match must end at a delimiter or EOF (:257); empty matches are rejected
  (``make_occurrence``, ``/root/reference/src/miner.c:261-264``).

Executed with ``re.finditer`` (leftmost non-overlapping — the reference's
per-miner scan rule, ``/root/reference/src/extractor.c:59``).
"""

from __future__ import annotations

import re
from functools import lru_cache

from nativeextractor_spark.functions.unicode import class_body, is_bmp
from nativeextractor_spark.miners.base import PatternMiner

_RANGE_EXPAND_LIMIT = 4096


def is_glob(glob: str) -> bool:
    """Syntactic validation (glob_entities.c:263-308)."""
    brackets = 0
    escape = False
    prelast: str | None = None
    last: str | None = None
    for ch in glob:
        if escape:
            # C `continue` skips the prelast/last update: after "\x", last
            # still points at the backslash (glob_entities.c:271-274)
            escape = False
            continue
        if ch == "-":
            if brackets > 0 and (last == "-" or prelast == "-"):
                return False
        elif ch == "\\":
            escape = True
        elif ch == "[":
            brackets += 1
        elif ch == "]":
            brackets -= 1
            if brackets < 0:
                return False
        prelast, last = last, ch
    return brackets == 0


@lru_cache(maxsize=4096)
def _starts_with_delimiter(glob: str) -> bool:
    """Can the glob's first element match a delimiter? (glob_entities.c:80-121
    — note the reference scans the raw '[' char too, so every set-starting
    glob reports True, '[' being punctuation.) Cached: the exact engine
    probes it per attempt. THE canonical copy — glob_exact imports it."""
    from nativeextractor_spark.functions.unicode import is_delimiter

    if not glob:
        return False
    c = glob[0]
    if c == "[":
        i, escape = 0, False
        while True:
            if i >= len(glob):
                return False
            ch = glob[i]
            if ch == "]" and not escape:
                return False
            if ch == "\\" and not escape:
                escape = True
                i += 1
                continue
            escape = False
            if is_delimiter(ch):
                return True
            i += 1
    if c in "*?":
        return False
    if c == "\\":
        if len(glob) < 2:
            return False
        c = glob[1]
    return is_delimiter(c)


def regex_engine_safe(glob: str) -> bool:
    """True iff ``glob`` is in the PROVEN exact≡regex equivalence class
    (domain A in tests/test_glob_property.py): star-free with no element
    able to match a delimiter char.

    Conservative exclusions:
    - ``*`` — failed star attempts move the scan guard past later
      candidates (finditer can't express that);
    - any delimiter-matching literal / set member — matches could span
      token boundaries, where the guard reasoning breaks;
    - escapes (top-level or in sets) — the reference's match_character
      probes the raw backslash too (a punct delimiter), a quirk the regex
      translation does not encode.
    """
    from nativeextractor_spark.functions.unicode import is_delimiter

    def safe_char(ch: str) -> bool:
        return not any(is_delimiter(v) for v in _case_variants(ch))

    i, n = 0, len(glob)
    while i < n:
        ch = glob[i]
        if ch in "*\\":
            return False
        if ch == "?":
            i += 1
        elif ch == "[":
            i += 1
            last: str | None = None
            while i < n and glob[i] != "]":
                c = glob[i]
                if c == "\\":
                    return False
                if c == "-" and last is not None and i + 1 < n and glob[i + 1] != "]":
                    lo, hi = ord(last), ord(glob[i + 1])
                    # huge ranges keep raw-range form in the regex (no case
                    # expansion) — a pre-existing translation approximation,
                    # so they stay on the exact engine
                    if hi - lo > _RANGE_EXPAND_LIMIT:
                        return False
                    if any(not safe_char(chr(cp)) for cp in range(lo, hi + 1)):
                        return False
                    i += 2
                    last = glob[i - 1]
                    continue
                if not safe_char(c):
                    return False
                last = c
                i += 1
            if i >= n:
                return False
            i += 1  # ']'
        else:
            if not safe_char(ch):
                return False
            i += 1
    return True


def top_level_star_positions(glob: str):
    """Indices of the glob's top-level ``*`` elements — None if there is an
    escape anywhere (the reference's raw-backslash probe quirk keeps
    escapes on the exact engine) or an unterminated set. ``*`` inside
    ``[sets]`` is a set member, not a wildcard (match_glob_impl's '['
    branch consumes it)."""
    stars: list[int] = []
    i, n = 0, len(glob)
    while i < n:
        c = glob[i]
        if c == "\\":
            return None
        if c == "[":
            # mirror _parse_set's do-while exactly: the first char after '['
            # is ALWAYS a member (even ']'), '-' consumes its range-end
            # char, and the set closes at the first unescaped ']' checked
            # AFTER a member — a shallower scan would close ']'-first sets
            # too early and miscount a member '*' as a top-level star
            i += 1
            last: str | None = None
            while True:
                if i >= n:
                    return None
                ch = glob[i]
                if last == "\\":
                    pass  # escaped member
                elif ch == "-" and last is not None:
                    if i + 1 >= n:
                        return None
                    i += 1  # consume the range-end char
                    ch = glob[i]
                last = ch
                i += 1
                if i < n and glob[i] == "]" and last != "\\":
                    break
            i += 1  # past ']'
        elif c == "*":
            stars.append(i)
            i += 1
        else:
            i += 1
    return stars


def split_single_star(glob: str):
    """(prefix, suffix) around the glob's single top-level ``*`` — None if
    there are zero or several stars, an escape, or an unterminated set."""
    stars = top_level_star_positions(glob)
    if stars is None or len(stars) != 1:
        return None
    s = stars[0]
    return glob[:s], glob[s + 1 :]


def split_top_level_stars(glob: str):
    """Segments between the glob's top-level ``*`` elements:
    ``glob == segs[0] + '*' + segs[1] + '*' + ... + '*' + segs[-1]`` —
    None if there is no top-level star, an escape, or an unterminated
    set. Segments at the ends are ``''`` for star-first / trailing-star
    globs."""
    stars = top_level_star_positions(glob)
    if not stars:
        return None
    segs: list[str] = []
    prev = 0
    for s in stars:
        segs.append(glob[prev:s])
        prev = s + 1
    segs.append(glob[prev:])
    return segs


def trailing_star_safe(glob: str) -> bool:
    """True iff ``glob`` = A + trailing ``*`` with A in the proven star-free
    regex class — scan-level equivalent to ``re.finditer``:

    - failed attempts die inside A (delimiter-free elements), so the scan
      guard never passes the next anchored candidate and A cannot mark_end
      (the pattern end lives after the star) — state-irrelevant;
    - once A matches, the attempt ALWAYS succeeds: the trailing star skips
      the rest of the token, mark_end lands at the token boundary, and the
      tail check (delimiter or EOF) holds there by construction. Matched
      spans equal the greedy regex span, and the guard after success
      (end+1) equals finditer's resume-at-match-end with the post-delimiter
      anchor."""
    sp = split_single_star(glob)
    return (
        sp is not None
        and sp[1] == ""
        and sp[0] != ""
        and regex_engine_safe(sp[0])
        and not _starts_with_delimiter(glob)
    )


def star_first_safe(glob: str) -> bool:
    """True iff ``glob`` is ``*B`` (B in the proven star-free class, possibly
    empty: the bare ``*``) or ``*B1*...*`` (every segment non-empty and
    proven) — scan-level equivalent to ``re.finditer``:

    - ``*`` is not delimiter-starting and rejects no content char, so the
      entry skip makes the attempts exactly the token starts, the
      ``(?:\\A|(?<=[delim]))(?=[^delim])`` anchor of :func:`glob_to_regex`;
    - a failed attempt retnuls one past the first delimiter strictly after
      its start — the next anchor — and no end-mark leak moves the guard
      further: a tail-failed ``B`` match is delimiter-free and ends in the
      token, and a ``*B1*...*`` completion always succeeds (see
      :func:`~nativeextractor_spark.miners.glob_exact.multi_star_trailing_class`);
    - a success moves the guard past the token-end delimiter, where
      finditer resumes (mid-token positions fail the anchor)."""
    segs = split_top_level_stars(glob)
    if segs is None or segs[0] != "":
        return False
    if len(segs) > 2 and (segs[-1] != "" or not all(segs[1:-1])):
        return False
    return all(regex_engine_safe(s) for s in segs[1:])


def _case_variants(ch: str) -> set[str]:
    """Chars the reference's match_character accepts for pattern char ``ch``.

    Tries tolower then toupper (glob_entities.c:40-55); multi-char case
    mappings (e.g. ß→SS) have no single-codepoint equivalent and fall back to
    the char itself.
    """
    out = {v for v in (ch.lower(), ch.upper()) if len(v) == 1}
    return out or {ch}


def _escape_in_class(ch: str) -> str:
    if ch in r"\^]-[":
        return "\\" + ch
    cp = ord(ch)
    if cp < 0x20 or 0x7F <= cp < 0xA0:
        return f"\\u{cp:04x}"
    return ch


def _class_of(chars: set[str], ranges: list[tuple[int, int]]) -> str:
    parts = [_escape_in_class(c) for c in sorted(chars)]
    for lo, hi in ranges:
        if lo == hi:
            parts.append(_escape_in_class(chr(lo)))
        else:
            parts.append(f"{_escape_in_class(chr(lo))}-{_escape_in_class(chr(hi))}")
    return "[" + "".join(parts) + "]"


def _parse_set(glob: str, i: int) -> tuple[str, int]:
    """Parse a ``[...]`` set starting just after '['; mirrors the reference's
    do-while at glob_entities.c:196-225. Returns (class regex, next index)."""
    chars: set[str] = set()
    ranges: list[tuple[int, int]] = []
    last: str | None = None
    n = len(glob)
    while True:
        if i >= n:  # unbalanced — is_glob() rejects this upfront
            raise ValueError("unterminated [set] in glob")
        c = glob[i]
        if last == "\\":
            chars.update(_case_variants(c))
        elif c == "-" and last is not None:
            lo, hi = ord(last), ord(glob[i + 1]) if i + 1 < n else ord(last)
            if hi - lo <= _RANGE_EXPAND_LIMIT:
                for cp in range(lo, hi + 1):
                    chars.update(_case_variants(chr(cp)))
            else:
                ranges.append((lo, hi))
            i += 1  # throw away dash; now at range-end char
            c = glob[i]
        else:
            chars.update(_case_variants(c))
        last = c
        i += 1
        if i < n and glob[i] == "]" and last != "\\":
            return _class_of(chars, ranges), i + 1


def translate_fragment(glob: str, bmp: bool = False) -> str:
    """Translate a glob fragment (element sequence, stars allowed) into the
    equivalent regex BODY — no scan anchor, no token-end tail. Factored out
    of :func:`glob_to_regex` so the fast star scan can build anchored
    attempt regexes for the prefix/suffix around a star. ``bmp=True``
    builds the delimiter classes for text without astral characters
    (see :func:`~nativeextractor_spark.functions.unicode.class_body`)."""
    d = class_body("delim", bmp=bmp)
    nondelim = f"[^{d}]"
    body: list[str] = []
    i, n = 0, len(glob)
    while i < n:
        ch = glob[i]
        if ch == "*":
            if i + 1 == n:
                body.append(f"{nondelim}*")
            elif _starts_with_delimiter(glob[i + 1 :]):
                # rest "starts with a delimiter" (which, per the reference's
                # '['-quirk, includes every [set]) → the recursive rest-match
                # does NO delimiter skip; the scan still tries the current
                # position then successive non-delimiter positions (the char
                # at the star's own position is unconstrained)
                body.append(f"(?:|[\\s\\S]{nondelim}*?(?={nondelim}))")
            else:
                # faithful mid-'*' semantics (glob_entities.c:161-191 + the
                # recursive re-entry at :130-135): the rest is tried at the
                # current position FIRST — where its entry skips an entire
                # delimiter run and requires a following char (can_move) —
                # then at successive positions whose chars are non-delim;
                # note the char at the star's own position is unconstrained
                # (the first move happens before the retnul delimiter check)
                body.append(
                    f"(?:[{d}]*(?={nondelim})|[\\s\\S]{nondelim}*?(?={nondelim}))"
                )
            i += 1
        elif ch == "[":
            cls, i = _parse_set(glob, i + 1)
            body.append(cls)
        elif ch == "\\":
            if i + 1 < n:
                body.append(_class_of(_case_variants(glob[i + 1]), []))
            i += 2
        elif ch == "?":
            body.append(nondelim)
            i += 1
        else:
            body.append(_class_of(_case_variants(ch), []))
            i += 1
    return "".join(body)


def glob_to_regex(glob: str, bmp: bool = False) -> str:
    """Compile a reference glob into an equivalent Python regex
    (``bmp`` as in :func:`translate_fragment`)."""
    if not is_glob(glob):
        raise ValueError(f"{glob!r} is not a syntactically correct glob")
    d = class_body("delim", bmp=bmp)
    nondelim = f"[^{d}]"
    body = translate_fragment(glob, bmp)
    anchor = f"(?:\\A|(?<=[{d}]))"
    if not _starts_with_delimiter(glob):
        # the pre-match delimiter skip (glob_entities.c:130-135) runs BEFORE
        # mark_start, so the span must begin on a non-delimiter char
        anchor += f"(?={nondelim})"
    tail = f"(?:(?=[{d}])|\\Z)"
    return anchor + body + tail


@lru_cache(maxsize=4096)
def _bmp_regex(glob: str) -> re.Pattern:
    from nativeextractor_spark.miners.base import compile_cached

    return compile_cached(glob_to_regex(glob, bmp=True))


class GlobMiner(PatternMiner):
    """Miner matching one glob pattern; label defaults to "Glob" like the
    reference factory (glob_entities.c:311-317).

    The engine is chosen per pattern (``self.engine``), each one
    span-identical to the reference scan for the patterns it takes:

    - ``regex`` — one C ``re.finditer`` over :func:`glob_to_regex` when
      :func:`regex_engine_safe` (star-free), :func:`trailing_star_safe`
      (``A*``) or :func:`star_first_safe` (``*B``, ``*B1*...*``) proves
      scan-level equivalence;
    - ``fast_star`` —
      :func:`~nativeextractor_spark.miners.glob_exact.fast_star_scan` for
      the prefix star shapes ``A*B`` and ``A*B1*...*``: one C regex call
      per attempt, failure-advance and end-mark-leak guards reproduced
      closed-form; property-tested against the naive machine walk;
    - ``exact`` — the transcribed reference cursor machine for everything
      else (non-trailing multi-star, escapes, delimiter-matching
      elements) — bit-exact including failure-advance scan guards.
    """

    def __init__(self, glob: str, label: str = "Glob", prob: float = 1.0):
        super().__init__(label, glob_to_regex(glob), prob)
        self.glob = glob
        from nativeextractor_spark.miners.glob_exact import (
            fast_star_class,
            multi_star_trailing_class,
        )

        if regex_engine_safe(glob) or trailing_star_safe(glob) or star_first_safe(glob):
            self.engine = "regex"
        elif (
            fast_star_class(glob) is not None
            or multi_star_trailing_class(glob) is not None
        ):
            self.engine = "fast_star"
        else:
            self.engine = "exact"

    def find(self, text: str):
        if self.engine == "regex":
            compiled = _bmp_regex(self.glob) if is_bmp(text) else self.compiled
            yield from self._find_with(compiled, text)
            return
        from nativeextractor_spark.miners.base import Occurrence

        if self.engine == "fast_star":
            from nativeextractor_spark.miners.glob_exact import fast_star_scan

            for s, e in fast_star_scan(text, self.glob):
                yield Occurrence(s, e, self.label, self.prob)
            return
        from nativeextractor_spark.miners.glob_exact import reference_glob_scan

        for s, e in reference_glob_scan(text, self.glob):
            yield Occurrence(s, e, self.label, self.prob)
