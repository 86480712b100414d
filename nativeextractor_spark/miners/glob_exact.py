"""Exact glob engine: literal transcription of the reference scan machine.

Transcribed from ``match_glob_impl`` (/root/reference/src/miners/
glob_entities.c:124-260) plus the extractor scan loop (extractor.c:36-100,
miner.c:25-51) over a char-indexed string cursor.

This is the DEFAULT GlobMiner engine. It reproduces every cursor-level
behavior, including the failure-advance rule the glob→regex translation
cannot express: a failed attempt leaves the cursor after its final ``retnul``
delimiter skip, and the extractor's position guard (``pos >=
max(pos_last, end_last)``, extractor.c:59) then blocks scan candidates the
failed attempt already consumed — with multiple delimiter classes a failed
multi-star attempt can swallow several would-be token starts (e.g. glob
``a*b`` finds nothing in ``"a.a.b"`` even though ``"a.b"`` is present).
The regex translation in ``glob.py`` is the vectorized fast path; the two
agree on any single-delimiter-class regime (whitespace-separated tokens —
property-tested) and on every reference test fixture.
"""

from __future__ import annotations

from nativeextractor_spark.functions.unicode import is_bmp, is_delimiter
from nativeextractor_spark.miners.glob import _starts_with_delimiter


class _Cursor:
    """stream cursor over text, char-indexed; tracks mark state like miner_c."""

    def __init__(self, text: str, pos: int, end_last: int):
        self.text = text
        self.pos = pos
        self.start: int | None = None
        self.end: int | None = None
        self.end_last = end_last

    # miner_c_can_move
    def can_move(self, d: int) -> bool:
        if d > 0:
            return self.pos < len(self.text)
        if d < 0:
            return self.pos > 0
        return True

    def move(self, d: int) -> bool:
        self.pos += d
        return True

    # miner_c_match_delimiter: match_fn(is_delimiter, move)
    def match_delimiter(self, move: int) -> bool:
        if not self.can_move(move):
            return False
        ch = self.text[self.pos]
        if not is_delimiter(ch):
            return False
        self.move(move)
        return True

    # glob_entities.c match_character: tolower then toupper
    def match_character(self, c: str) -> bool:
        if not self.can_move(1):
            return False
        cur = self.text[self.pos]
        for v in (c.lower(), c.upper()):
            if len(v) == 1 and cur == v:
                self.move(1)
                return True
        return False

    def mark_start(self) -> bool:
        if self.pos < self.end_last:
            return False
        self.start = self.pos
        return True

    def mark_end(self) -> bool:
        if self.pos < self.end_last:
            return False
        self.end = self.pos
        return True

    def make_occurrence(self):
        if self.start is None or self.end is None:
            return None
        if self.start == self.end or self.start > self.end:
            return None
        self.end_last = self.end
        return (self.start, self.end)


from functools import lru_cache as _lru_cache


# The regexes below take ``bmp``: True builds their delimiter classes for
# text without astral characters, which Python's ``re`` tests several
# times faster (see functions.unicode.class_body). The vectorized scans
# pick it once per text with ``is_bmp``; the cursor helpers of the exact
# machine keep the full classes.


@_lru_cache(maxsize=2)
def _delim_re(bmp: bool = False):
    from nativeextractor_spark.functions.unicode import class_body
    from nativeextractor_spark.miners.base import compile_cached

    return compile_cached(f"[{class_body('delim', bmp=bmp)}]")


@_lru_cache(maxsize=2)
def _nondelim_re(bmp: bool = False):
    from nativeextractor_spark.functions.unicode import class_body
    from nativeextractor_spark.miners.base import compile_cached

    return compile_cached(f"[^{class_body('delim', bmp=bmp)}]")


def _retnul(m: _Cursor) -> None:
    """skip to next delimiter then return NULL (glob_entities.c:29-37).

    Original loop: ``while can_move(1) and not match_delimiter(1): move(1)``
    — final pos is one PAST the next delimiter, or EOF. One regex search
    instead of a per-char Python loop."""
    hit = _delim_re().search(m.text, m.pos)
    m.pos = hit.start() + 1 if hit else len(m.text)


def _skip_delimiter_run(m: _Cursor) -> None:
    """``while can_move(1) and match_delimiter(1)`` — pos lands on the first
    non-delimiter char (or EOF)."""
    hit = _nondelim_re().search(m.text, m.pos)
    m.pos = hit.start() if hit else len(m.text)


def _skip_nondelimiter_run(m: _Cursor) -> None:
    """``while can_move(1) and not is_delimiter(cur): move(1)`` — pos lands
    on the next delimiter (or EOF)."""
    hit = _delim_re().search(m.text, m.pos)
    m.pos = hit.start() if hit else len(m.text)


def _match_any_character(m: _Cursor) -> bool:
    # reference: can_move(Right) && !match_delimiter(Stay)
    ok = m.can_move(1) and not is_delimiter(m.text[m.pos])
    if ok:
        m.move(1)
    return ok


from functools import lru_cache


@lru_cache(maxsize=4096)
def _range_accept_set(frm: str, to: str) -> frozenset[str] | None:
    """Chars accepted by ``for cp in [frm..to]: match_character(chr(cp))``
    (each cp admits its tolower/toupper variants; cursor moves by 1 on the
    first hit regardless of WHICH cp matched, so set membership is
    equivalent). None for absurd ranges — caller falls back to the loop."""
    lo, hi = ord(frm), ord(to)
    if hi - lo > 0x10000:
        return None
    out: set[str] = set()
    for cp in range(lo, hi + 1):
        ch = chr(cp)
        # match_character admits ONLY single-char tolower/toupper variants —
        # a titlecase ch itself (e.g. 'ǅ') is not accepted (glob_entities.c:40-55)
        for v in (ch.lower(), ch.upper()):
            if len(v) == 1:
                out.add(v)
    return frozenset(out)


def _match_range(m: _Cursor, frm: str, to: str) -> bool:
    accept = _range_accept_set(frm, to)
    if accept is None:
        for cp in range(ord(frm), ord(to) + 1):
            if m.match_character(chr(cp)):
                return True
        return False
    if m.can_move(1) and m.text[m.pos] in accept:
        m.move(1)
        return True
    return False


def match_glob_impl(m: _Cursor, glob: str):
    """Transcription of match_glob_impl; returns (start,end) or None."""
    gi = 0
    n = len(glob)
    started = False

    if not _starts_with_delimiter(glob):
        _skip_delimiter_run(m)

    if not m.can_move(1):
        _retnul(m)
        return None

    startpos = None

    while gi < n:
        if not started:
            started = True
            m.mark_start()
            startpos = m.pos

        ch = glob[gi]
        consumed = 1

        if ch == "*":
            if gi + 1 == n:
                _skip_nondelimiter_run(m)
                gi += 1
                continue
            save_end_last = m.end_last
            rest = glob[gi + 1 :]
            while True:
                pos_save = m.pos
                rec = match_glob_impl(m, rest)
                m.end_last = save_end_last
                if rec is not None:
                    t = m.pos
                    m.pos = startpos
                    m.mark_start()
                    m.pos = t
                    # rec's mark_end already set m.end
                    return m.make_occurrence()
                m.pos = pos_save
                if not m.can_move(1):
                    return None
                m.move(1)
                if m.pos < len(m.text) and is_delimiter(m.text[m.pos]):
                    _retnul(m)
                    return None

        elif ch == "[":
            gi += 1  # past '['
            found = False
            last: str | None = None
            while True:
                c = glob[gi]
                if not found:
                    if last == "\\":
                        if m.match_character(c):
                            found = True
                    elif c == "-" and last is not None:
                        frm = last
                        to = glob[gi + 1]
                        if _match_range(m, frm, to):
                            found = True
                        gi += 1  # throw away dash; now at range end char
                        c = glob[gi]
                    else:
                        if m.match_character(c):
                            found = True
                last = c
                gi += 1
                if gi < n and glob[gi] == "]" and last != "\\":
                    break
            gi += 1  # right bracket
            if not found:
                _retnul(m)
                return None
            continue

        elif ch == "\\":
            target = glob[gi + 1] if gi + 1 < n else ""
            if not m.match_character(target):
                _retnul(m)
                return None
            gi += 2
            continue

        elif ch == "?":
            if not _match_any_character(m):
                _retnul(m)
                return None

        else:
            if not m.match_character(ch):
                _retnul(m)
                return None

        gi += consumed

    m.mark_end()
    # token must end here: match_delimiter(Right) or !can_move(Right)
    if not m.match_delimiter(1) and m.can_move(1):
        _retnul(m)
        return None
    return m.make_occurrence()


@_lru_cache(maxsize=4096)
def _candidate_re(glob: str, bmp: bool = False):
    """Prefilter regex whose matches are the only attempt positions that can
    get past the glob's FIRST element — or None when no prefilter applies.

    Soundness: for a non-delimiter-starting glob, the machine's entry skips
    the delimiter run, so the examined content char is always the first
    non-delimiter after a delimiter (or BOF) — the ``(?:\\A|(?<=[delim]))``
    anchor. An attempt whose first element fails at that char retnuls to one
    past the NEXT delimiter, i.e. the guard never overshoots the next
    anchored candidate — so skipping first-element-rejected candidates is
    state-identical to attempting them. ONE exception exists: a failed
    mid-star rest recursion can leak its mark_end, parking the guard at an
    UNanchored position the naive walk would attempt; the scan loop handles
    that by attempting such positions literally (see reference_glob_scan).
    Star-first globs (unconstrained first char) and delimiter-starting
    globs (no entry skip; includes every set-starting glob via the
    raw-'[' quirk) get no prefilter HERE: with no first element to
    reject candidates, token-start anchoring prunes nothing for the
    per-attempt machine walk (measured ~15% slower on single-space text),
    so NON-trailing multi-star star-first globs stay on the plain naive
    walk. The star-first classes with closed-form failures instead use the
    same token-start anchor inside :func:`fast_star_first_scan` /
    :func:`fast_multi_star_scan`, where each candidate costs ONE C regex
    call and the anchoring IS the win.
    """
    if not glob or glob[0] == "*" or _starts_with_delimiter(glob):
        return None
    from nativeextractor_spark.functions.unicode import class_body
    from nativeextractor_spark.miners.base import compile_cached

    d = class_body("delim", bmp=bmp)
    if glob[0] == "?":
        accept = f"[^{d}]"
    else:
        ch = glob[1] if glob[0] == "\\" and len(glob) > 1 else glob[0]
        variants = {v for v in (ch.lower(), ch.upper()) if len(v) == 1}
        if not variants:
            return None
        from nativeextractor_spark.miners.glob import _escape_in_class

        accept = "[" + "".join(_escape_in_class(v) for v in sorted(variants)) + "]"
    return compile_cached(f"(?:\\A|(?<=[{d}])){accept}")


@_lru_cache(maxsize=1024)
def fast_star_class(glob: str):
    """(A, B) when ``glob`` = A + ``*`` + B is in the vectorizable
    single-star class, else None. Cached: the scan dispatch probes it
    per document (r4 review).

    Class requirements (each keeps one machine behavior closed-form):
    - exactly one top-level ``*``, neither first nor last element
      (star-first globs run :func:`fast_star_first_scan`; trailing stars
      go to the regex engine via
      :func:`~nativeextractor_spark.miners.glob.trailing_star_safe`);
    - no escapes (raw-backslash probe quirk), A and B in the proven
      star-free regex class (every element delimiter-free, so A/B matches
      never cross token boundaries and consume a fixed char count);
    - the glob is not delimiter-starting (entry skip + anchored prefilter
      exist — note the raw-'[' quirk makes every set-STARTING glob
      delimiter-starting).

    B starting with ``[`` IS in the class: the same quirk marks such a
    rest delimiter-starting, so its recursion never entry-skips a
    delimiter run — the scan simply drops the skip-probe (every possible
    leak is then in-range and cannot move the guard).
    """
    from nativeextractor_spark.miners.glob import (
        regex_engine_safe,
        split_single_star,
    )

    sp = split_single_star(glob)
    if sp is None:
        return None
    a, b = sp
    if not a or not b:
        return None
    if _starts_with_delimiter(glob):
        return None
    if not (regex_engine_safe(a) and regex_engine_safe(b)):
        return None
    return a, b


@_lru_cache(maxsize=1024)
def _fast_star_res(glob: str, bmp: bool = False):
    from nativeextractor_spark.functions.unicode import class_body
    from nativeextractor_spark.miners.base import compile_cached
    from nativeextractor_spark.miners.glob import translate_fragment

    a, b = fast_star_class(glob)
    d = class_body("delim", bmp=bmp)
    tail = f"(?:(?=[{d}])|\\Z)"
    # one C call resolves the whole attempt: the full pattern is tried
    # exhaustively first (machine try order), else the bare prefix tells
    # us the star was reached and where it started
    combo_re = compile_cached(
        f"(?:(?P<occ>{translate_fragment(glob, bmp)}{tail})"
        f"|(?P<pre>{translate_fragment(a, bmp)}))"
    )
    b_re = compile_cached(translate_fragment(b, bmp))
    # a delimiter-starting rest (raw-'[' quirk: any set-starting B) never
    # entry-skips, so the q=pos0 attempt cannot mark_end past d* and the
    # skip-probe must not run
    rest_skips = not _starts_with_delimiter(b)
    return combo_re, b_re, rest_skips


def fast_star_scan(text: str, glob: str) -> list[tuple[int, int]]:
    """Vectorized scan for :func:`fast_star_class` globs: the per-candidate
    Python star recursion is replaced by O(1) C-level regex calls whose
    results reproduce the machine's full failure state (VERDICT r2 item 4).

    Per attempt at position p (always a non-delimiter char — anchored
    candidates from the prefilter, or a literal attempt at an end-mark-leak
    position, exactly like :func:`reference_glob_scan`):

    - SUCCESS: one anchored match of the translated body+tail. The
      translation's star encoding already mirrors the machine's try order
      (rest at the current position first — including its entry delimiter
      skip — then successive non-delimiter positions), so span and
      acceptance coincide; the guard advances to end+1 (the consumed
      token-end delimiter), which equals the machine's
      max(end_last, pos_last).
    - PREFIX FAILURE (A does not match at p): the machine dies inside the
      first token and retnuls one past its closing delimiter — never past
      the next anchored candidate, and A cannot mark_end — so
      failpos = nextdelim(p)+1 captures the entire state.
    - STAR FAILURE (A matched, ending at pos0): the star walk lands on the
      first delimiter d* strictly after pos0 and retnuls → failpos = d*+1
      (or EOF). The end-mark LEAK is the rightmost rest position whose
      B-body matched but whose tail check failed: B consumes a fixed char
      count, so rightmost-tried = rightmost match of (?=(B)) in
      [pos0, d*); when pos0 itself sits on a delimiter, the FIRST tried
      rest position skips the whole delimiter run (rest entry) and may
      mark_end in a later token — probed separately. The guard
      max(failpos, leak, end_last) can land mid-token: the next loop
      iteration then performs the literal unanchored attempt the naive
      walk would (the 'b??AbA'/'b*?' counterexample regression lives in
      tests/test_glob_property.py).

    A key pruning makes the common path ONE regex call per candidate: an
    in-range leaked end e satisfies e <= d* < failpos (B is delimiter-free,
    so a rest match starting before d* cannot cross it), so in-range leaks
    NEVER move the guard — only the pos0-on-delimiter skip-probe can, and
    only that case computes extra state.

    Property-tested against :func:`_reference_glob_scan_naive` over random
    texts and class globs.
    """
    if fast_star_class(glob) is None and star_first_class(glob) is not None:
        # the 'fast_star' engine name covers all vectorized star classes;
        # star-first patterns run the simpler anchored scan
        return fast_star_first_scan(text, glob)
    if fast_star_class(glob) is None and multi_star_trailing_class(glob) is not None:
        # r5: multi-star with a trailing star (e.g. '*i*k*',
        # '*[abc]*[a-f]*[1-9]*') — no-leak failure closed forms
        return fast_multi_star_scan(text, glob)
    bmp = is_bmp(text)
    combo_re, b_re, rest_skips = _fast_star_res(glob, bmp)
    cand = _candidate_re(glob, bmp)
    delim_search = _delim_re(bmp).search
    nondelim_search = _nondelim_re(bmp).search
    out: list[tuple[int, int]] = []
    n = len(text)
    pos = 0
    cand_iter = cand.finditer(text)
    while pos < n:
        if pos > 0 and not is_delimiter(text[pos - 1]):
            p = pos  # unanchored literal attempt (guard parked mid-token)
        else:
            p = None
            for hit in cand_iter:
                if hit.start() >= pos:
                    p = hit.start()
                    break
            if p is None:
                break
        m = combo_re.match(text, p)
        if m is None or m.lastgroup == "pre":
            if m is None:
                # prefix failure: the machine dies inside p's token and
                # retnuls one past its closing delimiter — nothing leaks
                hitd = delim_search(text, p)
                pos = hitd.start() + 1 if hitd else n
                continue
            pos0 = m.end()
            if rest_skips and pos0 < n and is_delimiter(text[pos0]):
                # A consumed its whole token: the star walk can cross into
                # the next token, and the FIRST rest attempt (entry skips
                # the delimiter run) may mark_end even further out
                hitd = delim_search(text, pos0 + 1)
                failpos = hitd.start() + 1 if hitd else n
                leak = 0
                hitn = nondelim_search(text, pos0)
                if hitn is not None:
                    mb = b_re.match(text, hitn.start())
                    if mb is not None:
                        leak = mb.end()
                pos = max(p + 1, failpos, leak)
            else:
                # every possible leak is in-range (<= d* < failpos) and
                # cannot move the guard; the star dies on the first
                # delimiter STRICTLY after pos0 (a non-skipping rest can
                # start with pos0 itself on a delimiter — the walk still
                # crosses into the next token before dying)
                hitd = delim_search(text, pos0 + 1)
                pos = hitd.start() + 1 if hitd else n
            continue
        e = m.end()
        out.append((p, e))
        pos = max(p + 1, e + 1 if e < n else e)
    return out


@_lru_cache(maxsize=1024)
def star_first_class(glob: str):
    """The rest B when ``glob`` = ``*`` + B is in the vectorizable
    star-first class (r4, VERDICT r3 item 6), else None. Cached: the
    scan dispatch probes it per document (r4 review).

    Class: exactly one top-level ``*`` as the FIRST element (no escapes —
    split_single_star already rejects them), B star-free in the proven
    regex class (delimiter-free elements). B may be empty (the bare ``*``
    glob). Returns B (possibly ``""``).
    """
    from nativeextractor_spark.miners.glob import (
        regex_engine_safe,
        split_single_star,
    )

    sp = split_single_star(glob)
    if sp is None:
        return None
    a, b = sp
    if a:
        return None
    if b and not regex_engine_safe(b):
        return None
    return b


@_lru_cache(maxsize=1024)
def _star_first_res(glob: str, bmp: bool = False):
    from nativeextractor_spark.functions.unicode import class_body
    from nativeextractor_spark.miners.base import compile_cached
    from nativeextractor_spark.miners.glob import translate_fragment

    d = class_body("delim", bmp=bmp)
    tail = f"(?:(?=[{d}])|\\Z)"
    body_re = compile_cached(f"{translate_fragment(glob, bmp)}{tail}")
    # token-start candidates: the glob-level entry skip applies to the
    # non-delimiter-starting '*', and the star rejects no content char —
    # an attempt anywhere in a delimiter run is state-identical to the
    # attempt at the next token start (mark_start lands AFTER the skip,
    # verified against the naive walk)
    cand_re = compile_cached(f"(?:\\A|(?<=[{d}]))[^{d}]")
    # r8 single-pass form: candidate anchor (lookbehind + non-consuming
    # content-char lookahead — exactly cand_re's positions) fused with the
    # body, so the WHOLE scan is one C finditer (see fast_star_first_scan)
    fused_re = compile_cached(
        f"(?:\\A|(?<=[{d}]))(?=[^{d}])(?:{translate_fragment(glob, bmp)}{tail})"
    )
    return body_re, cand_re, fused_re


def fast_star_first_scan(text: str, glob: str) -> list[tuple[int, int]]:
    """Vectorized scan for :func:`star_first_class` globs (``*B``) — one
    anchored C regex call per candidate token (VERDICT r3 item 6).

    Why this class is SIMPLER than the mid-star one:

    - **Attempts anchor at token starts.** ``*`` is non-delimiter-starting
      (glob.c probes ``*`` directly), so the glob-level entry skip runs:
      an attempt anywhere in a delimiter run marks its start at the next
      content char — state-identical to the anchored attempt there — and
      the star's first element rejects no content char, so candidates are
      exactly the token starts.
    - **pos0 = p.** The empty prefix consumes nothing, so the star begins
      at the attempt char itself, which is non-delimiter by construction —
      the pos0-on-delimiter skip-probe of the mid-star engine can never
      arise, and every rest attempt happens at a non-delimiter position in
      [p, d*).
    - **Leaks never move the guard.** B is delimiter-free, so any
      failed-tail rest match ends <= d* < failpos = d*+1 — in-range, like
      the mid-star in-range case. With no out-of-range leak and no
      skip-probe, the guard can never park mid-token, so the literal
      unanchored attempt arm of the mid-star loop is dead here and the
      whole scan is candidate → one anchored match → emit or jump
      one-past-the-token.

    On failure the machine dies on the first delimiter STRICTLY after p
    (the star walks the token; the landed-on-delimiter check is post-move)
    and retnuls to d*+1. On success the translated body's star encoding
    reproduces the machine try order (rest first, then successive
    non-delimiter chars), the tail consumes the token-end delimiter, and
    the guard advances to end+1 — exactly the mid-star success rule.

    Property-tested against :func:`_reference_glob_scan_naive`.

    r8: the loop above is now executed as ONE C ``finditer`` over the
    fused candidate+body pattern. Equivalence of the fused form:

    - candidate positions are identical (the lookbehind/\\A alternation
      plus a non-consuming ``(?=[^d])`` reproduce cand_re's positions);
    - at a candidate, the fused body matches iff ``body_re.match`` does,
      with the same alternation order, hence the same end;
    - the loop's jumps only SKIP positions that can never yield a match:
      after a success ending at e (always a token end, so text[e] is a
      delimiter or EOF), positions up to e fail the candidate anchor; a
      failed attempt at candidate p jumps one-past-p's-token, and every
      in-between position either fails the anchor (mid-token) or — for a
      later candidate inside the same token, which cannot exist for
      star-first (candidates are token STARTS) — is vacuous. finditer's
      char-by-char advance therefore attempts a superset of positions
      whose extra attempts all fail instantly, and emits the same spans.
    """
    _, _, fused_re = _star_first_res(glob, is_bmp(text))
    return [(m.start(), m.end()) for m in fused_re.finditer(text)]


@_lru_cache(maxsize=1024)
def multi_star_trailing_class(glob: str):
    """Segment tuple when ``glob`` is in the vectorizable MULTI-star
    trailing-star class (r5, VERDICT r4 item 4), else None.

    Class: >= 2 top-level stars, the LAST element a star, no escapes, the
    glob not delimiter-starting, every inter-star segment non-empty and
    star-free in the proven regex class (delimiter-free elements); the
    segment before the first star may be empty (star-first, e.g.
    ``*i*k*`` — tests/glob.c:269-280) or a proven prefix (``A*B*``).
    Returns ``(seg0, seg1, ..., seg_{k-1})`` with the final empty segment
    dropped.

    Why THIS multi-star class closes the failure state with the already
    proven single-star forms: every recursion level's glob is a suffix of
    the original, so every level ends with the trailing star — a level
    that reaches its own pattern end has just run ``_skip_nondelimiter_
    run``, landing on a delimiter or EOF, where the token-end tail check
    holds by construction. A nested completion therefore ALWAYS succeeds
    and propagates success to the top: no failed attempt can ever fire
    mark_end, i.e. the end-mark LEAK that complicates mid-star ``A*B``
    cannot exist here. Failed attempts leave only the outer retnul
    position, which is the single-star closed form: one past the first
    delimiter at/after pos0+1 (prefix failures: one past the first
    delimiter at/after p). Inner star walks and entry-skipping rest
    attempts may roam far past that delimiter, but their positions are
    always restored (pos_save) on rest failure and their acceptance order
    is exactly what :func:`~nativeextractor_spark.miners.glob.
    translate_fragment` encodes per star — so one anchored C regex call
    resolves each attempt. Non-trailing multi-star globs (``A*B*C``) stay
    on the exact machine: their deepest completions CAN fail the tail and
    leak across several tokens (entry-skips), and no closed form is
    proven for that guard.

    r6 measured negative result for vectorizing the non-trailing class
    (VERDICT r5 item 5): the leak survives every candidate restriction we
    probed — even with ALL nested rests set-starting (the raw-'['
    delimiter-probe quirk suppresses every nested entry skip), the
    star-positioned-on-delimiter walk rule carries level i+1 into the
    token AFTER level i's, so a failed deep completion can still fire
    ``mark_end`` past the single-star failpos and park the guard
    mid-token; the final guard is the LAST-in-try-order tail-failed
    completion's end across k nested walk regions — no per-candidate
    closed form found. Measured cost of staying exact (sf0.1 docs,
    2000 pages, single core): ``s*a*k`` 1.3 MB/s vs 2.5 MB/s for the
    vectorized trailing ``s*a*k*`` on the same corpus — a ~2x penalty,
    bounded by the shared candidate prefilter, on a pattern class no
    reference golden exercises. The exact machine stays the engine of
    record here (property-tested against the naive walk).
    """
    from nativeextractor_spark.miners.glob import (
        regex_engine_safe,
        split_top_level_stars,
    )

    segs = split_top_level_stars(glob)
    if segs is None or len(segs) < 3:  # < 2 stars
        return None
    if segs[-1] != "":
        return None
    mids = segs[1:-1]
    if any(not m for m in mids):
        return None  # consecutive stars ('a**') stay on the exact machine
    if _starts_with_delimiter(glob):
        return None
    a = segs[0]
    for seg in ([a] if a else []) + mids:
        if not regex_engine_safe(seg):
            return None
    return tuple(segs[:-1])


@_lru_cache(maxsize=1024)
def _multi_star_res(glob: str, bmp: bool = False):
    from nativeextractor_spark.functions.unicode import class_body
    from nativeextractor_spark.miners.base import compile_cached
    from nativeextractor_spark.miners.glob import translate_fragment

    segs = multi_star_trailing_class(glob)
    a = segs[0]
    d = class_body("delim", bmp=bmp)
    tail = f"(?:(?=[{d}])|\\Z)"
    body = f"{translate_fragment(glob, bmp)}{tail}"
    if a:
        # mid-star shape: one combo call resolves the attempt — full body
        # first (machine try order), else the bare prefix tells us the
        # first star was reached and where it started
        combo_re = compile_cached(
            f"(?:(?P<occ>{body})|(?P<pre>{translate_fragment(a, bmp)}))"
        )
        return combo_re, None
    # star-first shape: token-start anchored candidates (the glob-level
    # entry skip runs for the non-delimiter-starting '*'). r8: fused into
    # one finditer pattern exactly like _star_first_res (the no-leak proof
    # in the class docstring gives the same candidate/jump structure).
    fused_re = compile_cached(f"(?:\\A|(?<=[{d}]))(?=[^{d}])(?:{body})")
    return fused_re, "fused"


def fast_multi_star_scan(text: str, glob: str) -> list[tuple[int, int]]:
    """Vectorized scan for :func:`multi_star_trailing_class` globs — one
    anchored C regex call per candidate (see the class docstring for the
    no-leak proof that makes the single-star failure closed forms apply).

    Star-first shape (``*B1*...*``): exactly the
    :func:`fast_star_first_scan` loop — candidate token starts, success
    emits and jumps past the span, failure jumps one past the first
    delimiter strictly after the candidate.

    Prefix shape (``A*B1*...*``): the :func:`fast_star_scan` loop minus
    every leak/skip probe (leaks cannot exist; a pos0-on-delimiter rest
    entry-skip changes only ACCEPTANCE, which the combo body already
    encodes, never the failure guard): prefix failure jumps one past p's
    token; star failure jumps one past the first delimiter strictly after
    pos0. The guard therefore always lands just past a delimiter (or at
    p+1 <= failpos), so the mid-token literal-attempt arm of the
    single-star engine is dead here and every attempt stays anchored.

    Property-tested against :func:`_reference_glob_scan_naive`
    (tests/test_glob_property.py) and pinned by the reference goldens
    ``*i*k*`` (tests/glob.c:269-280) and ``*[abc]*[a-f]*[1-9]*``
    (tests/glob.c:299-309).
    """
    bmp = is_bmp(text)
    re1, cand_re = _multi_star_res(glob, bmp)
    delim_search = _delim_re(bmp).search
    out: list[tuple[int, int]] = []
    n = len(text)
    pos = 0
    if cand_re == "fused":  # star-first shape: one C finditer (r8; the
        # fused-pattern equivalence argument is fast_star_first_scan's —
        # same candidate anchor, same no-leak jump structure)
        return [(m.start(), m.end()) for m in re1.finditer(text)]
    cand = _candidate_re(glob, bmp)
    cand_iter = cand.finditer(text)
    while pos < n:
        p = None
        for hit in cand_iter:
            if hit.start() >= pos:
                p = hit.start()
                break
        if p is None:
            break
        m = re1.match(text, p)
        if m is None:
            # prefix failure: the machine dies inside p's token and
            # retnuls one past its closing delimiter — nothing leaks
            hitd = delim_search(text, p)
            pos = hitd.start() + 1 if hitd else n
        elif m.lastgroup == "pre":
            pos0 = m.end()
            hitd = delim_search(text, pos0 + 1)
            pos = max(p + 1, hitd.start() + 1 if hitd else n)
        else:
            e = m.end()
            out.append((p, e))
            pos = max(p + 1, e + 1 if e < n else e)
    return out


def _reference_glob_scan_naive(text: str, glob: str) -> list[tuple[int, int]]:
    """The literal per-position extractor loop — kept as the semantics
    reference that the prefiltered scan is property-tested against."""
    out: list[tuple[int, int]] = []
    n = len(text)
    pos = 0
    guard = 0  # max(pos_last, end_last)
    end_last = 0
    while pos < n:
        if pos >= guard:
            m = _Cursor(text, pos, end_last)
            occ = match_glob_impl(m, glob)
            if occ is not None:
                out.append(occ)
                end_last = occ[1]
            # miner_c_run: pos_last = max(end, stream->pos)
            guard = max(m.end if m.end is not None else 0, m.pos, end_last)
            pos += 1
        else:
            # below the guard nothing can be attempted — jumping straight to
            # it is step-for-step equivalent to the C loop's pos += 1 walk
            pos = guard
    return out


def reference_glob_scan(text: str, glob: str) -> list[tuple[int, int]]:
    """Full extractor scan loop (whole document, one miner): candidate
    positions from one C-speed prefilter pass where sound (see
    :func:`_candidate_re`), the literal walk otherwise."""
    cand = _candidate_re(glob, is_bmp(text))
    if cand is None:
        return _reference_glob_scan_naive(text, glob)
    out: list[tuple[int, int]] = []
    search = cand.search
    n = len(text)
    end_last = 0
    guard = 0
    pos = 0
    while pos < n:
        if pos > 0 and not is_delimiter(text[pos - 1]):
            # unanchored attempt position (mid-star end-mark leak): the
            # naive walk attempts here, so must we — literally
            p = pos
        else:
            hit = search(text, pos)
            if hit is None:
                return out
            p = hit.start()
        m = _Cursor(text, p, end_last)
        occ = match_glob_impl(m, glob)
        if occ is not None:
            out.append(occ)
            end_last = occ[1]
        guard = max(m.end if m.end is not None else 0, m.pos, end_last)
        pos = max(p + 1, guard)
    return out


def filter_longest_occurrences(
    occs: list[tuple[int, int, str]],
) -> list[tuple[int, int, str]]:
    """Port of ``filter_longest_occurrences`` (extractor.c:145-200): remove
    occurrences strictly enclosed by another in the same batch; identical
    spans (different miners) are kept. Exact C pairwise control flow."""
    alive = [True] * len(occs)
    for i in range(len(occs)):
        for j in range(i + 1, len(occs)):
            if not alive[i]:
                break
            if not alive[j]:
                continue
            a0, a1, _ = occs[i]
            b0, b1, _ = occs[j]
            if a0 == b0 and a1 == b1:
                continue
            if a0 <= b0 and b1 <= a1:
                alive[j] = False
            if b0 <= a0 and a1 <= b1:
                alive[i] = False
    return [o for o, keep in zip(occs, alive) if keep]


def batched_extractor_scan(
    text: str,
    globs: list[str],
    batch_size: int,
    no_enclosed: bool = False,
) -> list[list[tuple[int, int, str]]]:
    """O4 compat mode: full ``extractor_c_next(batch)`` parity for
    batch < document (extractor.c:55-92 thread loop + :242-251 post-batch
    bookkeeping). Returns the occurrences emitted per batch call.

    Semantics reproduced exactly:
    - each miner advances ``batch_size`` unicode chars per call with the
      C batch accounting (failed/successful attempts charge net movement);
    - with ``no_enclosed`` (E_NO_ENCLOSED_OCCURRENCES), an occurrence whose
      end <= the PREVIOUS batches' ``last_max`` is dropped at emission
      (extractor.c:69-76 — the cross-batch pre-filter this mode exists for),
      the batch is then enclosure-filtered, and ``last_max`` advances to the
      max surviving end;
    - miner-side guards (pos_last/end_last) update on failure and on
      emission-dropped occurrences alike (miner.c:25-33, :271).

    The canonical Spark path (operators/extract.py) processes whole
    documents (batch = doc) where this is unobservable; this function exists
    for parity audits against a reference binary driven with small batches.
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    n = len(text)
    miners = [
        {"glob": g, "pos": 0, "pos_last": 0, "end_last": 0, "eof": n == 0}
        for g in globs
    ]
    last_max = 0
    out_batches: list[list[tuple[int, int, str]]] = []
    while any(not m["eof"] for m in miners):
        out: list[tuple[int, int, str]] = []
        for m in miners:
            budget = batch_size
            while not m["eof"] and budget > 0:
                pos = m["pos"]
                if pos >= max(m["pos_last"], m["end_last"]):
                    cur = _Cursor(text, pos, m["end_last"])
                    occ = match_glob_impl(cur, m["glob"])
                    if occ is not None:
                        m["end_last"] = occ[1]
                        if not (
                            no_enclosed and last_max > 0 and occ[1] <= last_max
                        ):
                            out.append((occ[0], occ[1], m["glob"]))
                    # miner_c_run: pos_last = max(end, stream->pos)
                    m["pos_last"] = max(
                        cur.end if cur.end is not None else 0, cur.pos
                    )
                    if cur.pos > pos:
                        # batch -= (moved - 1); move(-1)  [extractor.c:85-88]
                        budget -= cur.pos - pos - 1
                        m["pos"] = cur.pos - 1
                # bottom-of-loop move(1)
                m["pos"] += 1
                budget -= 1
                if m["pos"] >= n:
                    m["eof"] = True
        if no_enclosed:
            out = filter_longest_occurrences(out)
            for _, end, _ in out:
                last_max = max(last_max, end)
        out_batches.append(out)
    return out_batches
