"""Regex → NFA → DFA compiler with reference-parity match semantics.

Reimplements the reference's regex pipeline in Python (driver-side — the
Spark analogue of "compile to native once, broadcast, scan forever"):

- lexer / op tree: ``/root/reference/src/regex_generator.c:103-650``
  (supported: literals, ``[...]`` groups with ranges and negation,
  alternation ``|``, closures ``* + ?``, ``{m[,n]}`` ranges, escapes
  ``\\s \\S \\w \\W \\d \\D \\n \\t \\r \\v``, ``.``, anchors ``^ $``)
- Thompson construction: ``regex_generator.c:683-844`` (public method,
  cited there to Wikipedia)
- powerset determinization: ``/root/reference/src/finite_automaton.c:282-364``
- execution: the generated DFA code runs greedily to exhaustion and reports a
  match iff the state where it gets stuck is final, with NO backtracking to
  an earlier final state (``regex_generator.c:1156-1210`` — each state
  returns the next state's verdict). :class:`DfaMiner` reproduces exactly
  that, scanning every candidate position with the non-overlap rule
  (``extractor.c:59``).

Known reference quirk NOT replicated: ``\\d``/``\\D`` map to
``unicode_isalpha``/``not_isalpha`` in the reference (bug at
``regex_generator.c:937-949``); no shipped fixture depends on it, so ``\\d``
here means digits.

The DFA transition table is a dense ``np.ndarray[state, char_class]`` over a
partition of the codepoint space — picklable, broadcastable, executable
vectorized.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Iterator

import numpy as np

from nativeextractor_spark.functions.unicode import class_mask
from nativeextractor_spark.miners.base import Miner, Occurrence

# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CharClass:
    """A set of codepoints: explicit ranges ∪ named classes, possibly negated."""

    ranges: tuple[tuple[int, int], ...] = ()
    named: tuple[str, ...] = ()  # names into functions.unicode.class_mask
    negated: bool = False
    is_any: bool = False  # '.' = not-linebreak (regex_generator.c:884-896)

    def mask(self) -> np.ndarray:
        m = np.zeros(0x110000, dtype=bool)
        if self.is_any:
            m[:] = True
            m[ord("\n")] = False
            return m
        for lo, hi in self.ranges:
            m[lo : hi + 1] = True
        for name in self.named:
            m |= class_mask(name)
        if self.negated:
            m = ~m
        return m


@dataclass(frozen=True)
class Node:
    kind: str  # lit | concat | alt | star | plus | opt | range | bof | eof
    cls: CharClass | None = None
    children: tuple["Node", ...] = ()
    lo: int = 0
    hi: int | None = None  # for {m,n}; None = unbounded


# ---------------------------------------------------------------------------
# parser (recursive descent over the reference grammar)
# ---------------------------------------------------------------------------

_ESCAPE_CLASSES = {
    "s": CharClass(named=("space",)),
    "S": CharClass(named=("space",), negated=True),
    "w": CharClass(ranges=((ord("_"), ord("_")),), named=("alnum",)),
    "W": CharClass(ranges=((ord("_"), ord("_")),), named=("alnum",), negated=True),
    "d": CharClass(named=("digit",)),
    "D": CharClass(named=("digit",), negated=True),
    "n": CharClass(ranges=((10, 10),)),
    "t": CharClass(ranges=((9, 9),)),
    "r": CharClass(ranges=((13, 13),)),
    "v": CharClass(ranges=((11, 11),)),
}


class RegexParseError(ValueError):
    pass


class _Parser:
    def __init__(self, pattern: str):
        self.p = pattern
        self.i = 0

    def peek(self) -> str | None:
        return self.p[self.i] if self.i < len(self.p) else None

    def take(self) -> str:
        ch = self.p[self.i]
        self.i += 1
        return ch

    def parse(self) -> Node:
        node = self._alternation()
        if self.i != len(self.p):
            raise RegexParseError(f"unexpected {self.p[self.i]!r} at {self.i}")
        return node

    def _alternation(self) -> Node:
        branches = [self._concat()]
        while self.peek() == "|":
            self.take()
            branches.append(self._concat())
        if len(branches) == 1:
            return branches[0]
        return Node("alt", children=tuple(branches))

    def _concat(self) -> Node:
        items: list[Node] = []
        while self.peek() not in (None, "|", ")"):
            items.append(self._repeat())
        if len(items) == 1:
            return items[0]
        return Node("concat", children=tuple(items))

    def _repeat(self) -> Node:
        atom = self._atom()
        while True:
            ch = self.peek()
            if ch == "*":
                self.take()
                atom = Node("star", children=(atom,))
            elif ch == "+":
                self.take()
                atom = Node("plus", children=(atom,))
            elif ch == "?":
                self.take()
                atom = Node("opt", children=(atom,))
            elif ch == "{":
                self.take()
                spec = ""
                while self.peek() not in (None, "}"):
                    spec += self.take()
                if self.peek() != "}":
                    raise RegexParseError("unterminated {m,n}")
                self.take()
                parts = spec.split(",")
                lo = int(parts[0])
                if len(parts) == 1:
                    hi: int | None = lo
                elif parts[1] == "":
                    hi = None
                else:
                    hi = int(parts[1])
                atom = Node("range", children=(atom,), lo=lo, hi=hi)
            else:
                return atom

    def _atom(self) -> Node:
        ch = self.take()
        if ch == "(":
            node = self._alternation()
            if self.peek() != ")":
                raise RegexParseError("unbalanced parenthesis")
            self.take()
            return node
        if ch == "[":
            return Node("lit", cls=self._char_group())
        if ch == ".":
            return Node("lit", cls=CharClass(is_any=True))
        if ch == "^":
            return Node("bof")
        if ch == "$":
            return Node("eof")
        if ch == "\\":
            return Node("lit", cls=self._escape())
        return Node("lit", cls=CharClass(ranges=((ord(ch), ord(ch)),)))

    def _escape(self) -> CharClass:
        ch = self.take()
        if ch in _ESCAPE_CLASSES:
            return _ESCAPE_CLASSES[ch]
        return CharClass(ranges=((ord(ch), ord(ch)),))

    def _char_group(self) -> CharClass:
        negated = False
        if self.peek() == "^":
            self.take()
            negated = True
        ranges: list[tuple[int, int]] = []
        named: list[str] = []
        prev: int | None = None
        while True:
            ch = self.peek()
            if ch is None:
                raise RegexParseError("unterminated [group]")
            if ch == "]":
                self.take()
                break
            self.take()
            if ch == "\\":
                nxt = self.take()
                if nxt in _ESCAPE_CLASSES:
                    sub = _ESCAPE_CLASSES[nxt]
                    named.extend(sub.named)
                    ranges.extend(sub.ranges)
                    prev = None
                    continue
                cp = ord(nxt)
                ranges.append((cp, cp))
                prev = cp
                continue
            if ch == "-" and prev is not None and self.peek() not in (None, "]"):
                hi = ord(self.take())
                if hi < prev:
                    raise RegexParseError("inverted range")
                ranges[-1] = (prev, hi)
                prev = None
                continue
            cp = ord(ch)
            ranges.append((cp, cp))
            prev = cp
        return CharClass(ranges=tuple(ranges), named=tuple(named), negated=negated)


# ---------------------------------------------------------------------------
# Thompson NFA + powerset DFA over symbolic char classes
# ---------------------------------------------------------------------------

BOF_SYM = "<BOF>"
EOF_SYM = "<EOF>"


@dataclass
class Nfa:
    # transitions: list per state of (symbol, target); symbol None = epsilon,
    # else a CharClass or BOF/EOF marker
    transitions: list[list[tuple[object, int]]] = field(default_factory=list)
    start: int = 0
    final: int = 0

    def new_state(self) -> int:
        self.transitions.append([])
        return len(self.transitions) - 1

    def add(self, src: int, sym: object, dst: int) -> None:
        self.transitions[src].append((sym, dst))


def _build_nfa(node: Node, nfa: Nfa) -> tuple[int, int]:
    """Thompson construction; returns (start, final) fragment states."""
    if node.kind == "lit":
        s, f = nfa.new_state(), nfa.new_state()
        nfa.add(s, node.cls, f)
        return s, f
    if node.kind in ("bof", "eof"):
        s, f = nfa.new_state(), nfa.new_state()
        nfa.add(s, BOF_SYM if node.kind == "bof" else EOF_SYM, f)
        return s, f
    if node.kind == "concat":
        first_s, cur_f = _build_nfa(node.children[0], nfa)
        for child in node.children[1:]:
            s, f = _build_nfa(child, nfa)
            nfa.add(cur_f, None, s)
            cur_f = f
        return first_s, cur_f
    if node.kind == "alt":
        s, f = nfa.new_state(), nfa.new_state()
        for child in node.children:
            cs, cf = _build_nfa(child, nfa)
            nfa.add(s, None, cs)
            nfa.add(cf, None, f)
        return s, f
    if node.kind == "star":
        s, f = nfa.new_state(), nfa.new_state()
        cs, cf = _build_nfa(node.children[0], nfa)
        nfa.add(s, None, cs)
        nfa.add(s, None, f)
        nfa.add(cf, None, cs)
        nfa.add(cf, None, f)
        return s, f
    if node.kind == "plus":
        cs, cf = _build_nfa(node.children[0], nfa)
        f = nfa.new_state()
        nfa.add(cf, None, f)
        nfa.add(f, None, cs)
        return cs, f
    if node.kind == "opt":
        s, f = nfa.new_state(), nfa.new_state()
        cs, cf = _build_nfa(node.children[0], nfa)
        nfa.add(s, None, cs)
        nfa.add(cf, None, f)
        nfa.add(s, None, f)
        return s, f
    if node.kind == "range":
        lo, hi = node.lo, node.hi
        s = nfa.new_state()
        cur = s
        for _ in range(lo):
            cs, cf = _build_nfa(node.children[0], nfa)
            nfa.add(cur, None, cs)
            cur = cf
        if hi is None:
            cs, cf = _build_nfa(node.children[0], nfa)
            nfa.add(cur, None, cs)
            nfa.add(cf, None, cur)  # loop
            return s, cur
        end = nfa.new_state()
        nfa.add(cur, None, end)
        for _ in range(hi - lo):
            cs, cf = _build_nfa(node.children[0], nfa)
            nfa.add(cur, None, cs)
            cur = cf
            nfa.add(cur, None, end)
        return s, end
    raise RegexParseError(f"unsupported node {node.kind}")


@dataclass
class Dfa:
    """Dense DFA over a codepoint partition.

    - ``class_of``: uint16 lookup codepoint → char-class id
    - ``table``: int32 [n_states, n_classes] → next state (-1 = stuck)
    - ``final``: bool per state
    - BOF/EOF are handled as pseudo-symbols evaluated at scan time
      (TYPE_LINEBEGIN/TYPE_LINEEND, regex_generator.c:1108-1113)
    """

    class_of: np.ndarray
    table: np.ndarray
    final: np.ndarray
    start: int
    bof_moves: dict[int, int]
    eof_moves: dict[int, int]
    # lazy cache: final flag of the terminal state of each state's EOF chain
    # (chain followed at-most-once-per-state, so self-loops terminate)
    _eof_final: np.ndarray | None = None

    def eof_final(self) -> np.ndarray:
        if self._eof_final is None:
            out = np.array(self.final, copy=True)
            for s in range(self.final.size):
                seen: set[int] = set()
                st = s
                while st in self.eof_moves and st not in seen:
                    seen.add(st)
                    st = self.eof_moves[st]
                out[s] = self.final[st]
            self._eof_final = out
        return self._eof_final


def _codepoint_classes(
    sym_masks: list[np.ndarray],
) -> tuple[np.ndarray, np.ndarray]:
    """Partition all codepoints by their membership signature over the
    symbol masks → (``class_of`` uint16 per codepoint, ``sym_in_class``
    bool [n_syms, n_classes]). Class ids follow ascending signature."""
    # bit k of a codepoint's signature is set iff symbol k's mask holds it
    signature = np.zeros(0x110000, dtype=np.int64)
    for k, m in enumerate(sym_masks):
        signature[m] |= np.int64(1) << k
    # masks are a few ranges each, so the signature is a few runs:
    # classify the run values, then expand back to codepoints
    starts = np.flatnonzero(
        np.concatenate(([True], signature[1:] != signature[:-1]))
    )
    uniq, run_class = np.unique(signature[starts], return_inverse=True)
    class_of = np.repeat(
        run_class.astype(np.uint16), np.diff(np.append(starts, 0x110000))
    )
    bits = np.arange(len(sym_masks), dtype=np.int64)[:, None]
    return class_of, ((uniq[None, :] >> bits) & 1).astype(bool)


def compile_regex(pattern: str) -> Dfa:
    ast = _Parser(pattern).parse()
    nfa = Nfa()
    s, f = _build_nfa(ast, nfa)
    nfa.start, nfa.final = s, f

    # collect distinct char-class masks used on edges
    sym_masks: list[np.ndarray] = []
    sym_index: dict[int, int] = {}  # id(CharClass) -> index
    for edges in nfa.transitions:
        for sym, _ in edges:
            if isinstance(sym, CharClass) and id(sym) not in sym_index:
                sym_index[id(sym)] = len(sym_masks)
                sym_masks.append(sym.mask())
    class_of, sym_in_class = _codepoint_classes(sym_masks)
    n_classes = sym_in_class.shape[1]

    def eps_closure(states: frozenset[int]) -> frozenset[int]:
        stack = list(states)
        seen = set(states)
        while stack:
            st = stack.pop()
            for sym, dst in nfa.transitions[st]:
                if sym is None and dst not in seen:
                    seen.add(dst)
                    stack.append(dst)
        return frozenset(seen)

    start_set = eps_closure(frozenset([nfa.start]))
    dfa_states: dict[frozenset[int], int] = {start_set: 0}
    worklist = [start_set]
    rows: list[np.ndarray] = []
    finals: list[bool] = []
    bof_moves: dict[int, int] = {}
    eof_moves: dict[int, int] = {}

    def ensure(sset: frozenset[int]) -> int:
        if sset not in dfa_states:
            dfa_states[sset] = len(dfa_states)
            worklist.append(sset)
        return dfa_states[sset]

    processed = 0
    while processed < len(worklist):
        sset = worklist[processed]
        processed += 1
        sid = dfa_states[sset]
        row = np.full(n_classes, -1, dtype=np.int32)
        for cls_id in range(n_classes):
            targets = set()
            for st in sset:
                for sym, dst in nfa.transitions[st]:
                    if isinstance(sym, CharClass) and sym_in_class[
                        sym_index[id(sym)], cls_id
                    ]:
                        targets.add(dst)
            if targets:
                row[cls_id] = ensure(eps_closure(frozenset(targets)))
        # BOF/EOF pseudo-edges
        for marker, moves in ((BOF_SYM, bof_moves), (EOF_SYM, eof_moves)):
            targets = set()
            for st in sset:
                for sym, dst in nfa.transitions[st]:
                    if sym == marker:
                        targets.add(dst)
            if targets:
                moves[sid] = ensure(eps_closure(frozenset(targets)))
        while len(rows) <= sid:
            rows.append(None)  # type: ignore[arg-type]
            finals.append(False)
        rows[sid] = row
        finals[sid] = nfa.final in sset

    # rows may have grown beyond processed entries; fill remaining
    table = np.stack([r for r in rows])
    return Dfa(
        class_of=class_of,
        table=table,
        final=np.array(finals, dtype=bool),
        start=0,
        bof_moves=bof_moves,
        eof_moves=eof_moves,
    )


# ---------------------------------------------------------------------------
# executor
# ---------------------------------------------------------------------------


def _run_to_stuck(dfa: Dfa, codes: np.ndarray, pos: int) -> int | None:
    """Run the DFA from ``pos``; return match end iff the stuck state is
    final (reference generated-code semantics), else None."""
    state = dfa.start
    if pos == 0 and state in dfa.bof_moves:
        state = dfa.bof_moves[state]
    n = codes.size
    i = pos
    eof_seen: set[int] | None = None
    while True:
        if i < n:
            nxt = dfa.table[state, dfa.class_of[codes[i]]]
        else:
            nxt = -1
        if nxt < 0:
            if i >= n and state in dfa.eof_moves:
                # An EOF pseudo-edge can self-loop (e.g. a quantified anchor
                # like 'a$*'); apply each state's EOF move at most once so a
                # pathological pattern fails fast instead of wedging.
                if eof_seen is None:
                    eof_seen = set()
                if state not in eof_seen:
                    eof_seen.add(state)
                    state = dfa.eof_moves[state]
                    continue
            return i if dfa.final[state] else None
        state = nxt
        i += 1


def _match_ends_multi(
    dfa: Dfa,
    codes: np.ndarray,
    doc_end: np.ndarray,
    doc_starts: np.ndarray,
) -> np.ndarray:
    """Run-to-stuck match end for EVERY candidate position of a batch of
    documents, vectorized.

    ``codes`` is the concatenation of the documents' codepoints,
    ``doc_end[i]`` the exclusive end of the document containing position
    ``i`` (each candidate's EOF), and ``doc_starts`` the concatenated
    start offsets (BOF pseudo-edges apply there). All candidates step
    through the dense transition table together, one NumPy gather per
    step (the SURVEY §2.6 R4 promise; reference analogue is per-state
    generated C, regex_generator.c:1156-1210). Most candidates go stuck
    within a step or two, so the active set collapses quickly and the
    loop runs O(longest match) iterations, not O(text). Candidates from
    different documents never interact — each steps only within its own
    bounds — while the per-step NumPy call overhead amortizes over the
    whole batch (r8).

    Returns int64[n]: match end per position, or -1 (no match / stuck state
    not final). Semantics identical to ``_run_to_stuck`` per position.
    """
    n = int(codes.size)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    cls = dfa.class_of[codes].astype(np.intp)
    ends = np.full(n, -1, dtype=np.int64)
    alive = np.arange(n, dtype=np.int64)
    st = np.full(n, dfa.start, dtype=np.int64)
    if dfa.start in dfa.bof_moves:
        st[doc_starts] = dfa.bof_moves[dfa.start]
    eof_final = dfa.eof_final()
    k = 0
    while alive.size:
        idx = alive + k
        bound = doc_end[alive]
        ex = idx >= bound
        if ex.any():
            fin = eof_final[st[ex]]
            ends[alive[ex][fin]] = bound[ex][fin]
            keep = ~ex
            alive, st = alive[keep], st[keep]
            if not alive.size:
                break
            idx = alive + k
        nxt = dfa.table[st, cls[idx]]
        stuck = nxt < 0
        if stuck.any():
            fin = dfa.final[st[stuck]]
            ends[alive[stuck][fin]] = idx[stuck][fin]
            keep = ~stuck
            alive, nxt = alive[keep], nxt[keep]
        st = nxt
        k += 1
    return ends


#: cap on the characters concatenated into one _match_ends_multi run — keeps
#: the candidate arrays (~40 B/char across codes/cls/st/alive/doc_end)
#: bounded regardless of Arrow batch shape
_BATCH_CHARS = 4 << 20


class DfaMiner(Miner):
    """Miner executing a compiled reference-parity DFA.

    Scan rule: candidates at every char position ≥ the last match end
    (leftmost non-overlapping, extractor.c:59); empty matches rejected
    (miner.c:261-264). Execution is the vectorized
    :func:`_match_ends_multi` kernel, batched ACROSS the documents of an
    Arrow batch: one short document used to pay the whole step loop's
    NumPy call overhead alone (~0.5 ms/doc), now a batch of documents
    shares it. ``_run_to_stuck`` is kept as the scalar reference for
    property tests.
    """

    def __init__(self, label: str, pattern: str, prob: float = 1.0):
        self.label = label
        self.pattern = pattern
        self.prob = prob
        self.dfa = compile_regex(pattern)

    def find(self, text: str) -> Iterator[Occurrence]:
        yield from self.find_batch([text])[0]

    @staticmethod
    def _walk(hits: np.ndarray, ends: np.ndarray, label, prob):
        """Leftmost non-overlapping walk over match candidates."""
        pos = 0
        while True:
            j = int(np.searchsorted(hits, pos, side="left"))
            if j >= hits.size:
                return
            p = int(hits[j])
            e = int(ends[p])
            yield Occurrence(p, e, label, prob)
            pos = e

    def find_batch(self, texts: list[str]) -> list[list[Occurrence]]:
        out: list[list[Occurrence]] = []
        batch: list[np.ndarray] = []
        batch_chars = 0

        def flush():
            nonlocal batch, batch_chars
            if not batch:
                return
            lens = np.fromiter(
                (a.size for a in batch), dtype=np.int64, count=len(batch)
            )
            offs = np.empty(len(batch) + 1, dtype=np.int64)
            offs[0] = 0
            np.cumsum(lens, out=offs[1:])
            codes = (
                np.concatenate(batch) if offs[-1] else np.empty(0, np.uint32)
            )
            doc_end = np.repeat(offs[1:], lens)
            doc_starts = offs[:-1][lens > 0]
            ends = _match_ends_multi(self.dfa, codes, doc_end, doc_starts)
            hit_mask = ends > np.arange(codes.size, dtype=np.int64)
            for d in range(len(batch)):
                lo, hi = int(offs[d]), int(offs[d + 1])
                hits = lo + np.nonzero(hit_mask[lo:hi])[0]
                out.append(
                    list(self._walk(hits - lo, ends[lo:hi] - lo,
                                    self.label, self.prob))
                    if hits.size
                    else []
                )
            batch = []
            batch_chars = 0

        for t in texts:
            if not isinstance(t, str):
                t = ""
            a = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
            if batch and batch_chars + a.size > _BATCH_CHARS:
                flush()
            batch.append(a)
            batch_chars += a.size
        flush()
        return out
