"""Gazetteer NER miner: whitespace tokens × longest-prefix dictionary lookup.

Reference: ``/root/reference/src/ner.c:20-37`` — a token is a maximal run of
non-space chars starting at BOF or after a delimiter; the Patricia trie
(``/root/reference/src/patricia.c``) returns the longest prefix (in BYTES) the
token shares with any dictionary key; the token is an occurrence iff
``matched_bytes / token_bytes >= 0.75`` (threshold at ner.c:31).

Spark-first design: the trie is replaced by a **sorted key array broadcast to
executors** — the longest common prefix of a probe with any key equals the max
of its common prefixes with the two neighbors at its ``np.searchsorted``
insertion point (the radix-walk equivalent; trie D3/D4 ops at
``patricia.c:157-300`` reduce to one binary search). Per-key payloads
(``patricia.c:523-552``) become an id array aligned with the keys — that is
the entity-linking map. Loading a dictionary from CSV
(``patricia_c_create_from_stream``, ``patricia.c:366-381``) is
``spark.read.csv`` at the driver + broadcast; trie save/mmap-load
(``patricia.c:458-521``) is parquet write + re-broadcast.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Iterator, Sequence

import numpy as np

from nativeextractor_spark.functions.unicode import class_body
from nativeextractor_spark.miners.base import Miner, Occurrence

NER_PREFIX_RATIO = 0.75  # ner.c:31


def _common_prefix_len(a: bytes, b: bytes) -> int:
    n = min(len(a), len(b))
    i = 0
    while i < n and a[i] == b[i]:
        i += 1
    return i


@dataclass
class AliasDict:
    """Sorted-array gazetteer with optional per-key payloads (entity ids)."""

    keys: np.ndarray  # sorted array of bytes objects (dtype=object)
    payloads: dict[bytes, int] = field(default_factory=dict)

    @classmethod
    def from_aliases(
        cls, aliases: Sequence[str], entity_ids: Sequence[int] | None = None
    ) -> "AliasDict":
        enc = [a.encode("utf-8") for a in aliases]
        payloads = dict(zip(enc, entity_ids)) if entity_ids is not None else {}
        keys = np.array(sorted(set(enc)), dtype=object)
        return cls(keys=keys, payloads=payloads)

    def longest_prefix(self, probes: Sequence[bytes]) -> np.ndarray:
        """Longest common prefix length (bytes) of each probe with any key.

        Equivalent of ``patricia_c_search`` (patricia.c:282-300): one binary
        search per probe, then prefix compare with the two neighbors.
        """
        probes_arr = np.array(probes, dtype=object)
        idx = np.searchsorted(self.keys, probes_arr)
        out = np.zeros(len(probes), dtype=np.int64)
        nkeys = len(self.keys)
        for i, (p, j) in enumerate(zip(probes, idx)):
            best = 0
            if j < nkeys:
                best = _common_prefix_len(p, self.keys[j])
            if j > 0:
                best = max(best, _common_prefix_len(p, self.keys[j - 1]))
            out[i] = best
        return out

    def lookup(self, probe: bytes) -> int | None:
        """Exact-key payload lookup (terminal-node user data, D6)."""
        return self.payloads.get(probe)


class GazetteerMiner(Miner):
    """NER miner over a broadcast :class:`AliasDict` (ner.c parity).

    Token-candidate rule (``match_named_entity``, ner.c:25-28, under the
    extractor scan loop extractor.c:59-92):

    - ``MATCH_DELIMITER(e, Left, Right)`` consumes one delimiter
      (space ∪ punct ∪ cntrl) at the scan position, or passes at BOF;
    - the token is then a maximal run of **non-space** chars
      (``match_fn_plus(unicode_not_isspace)`` — punctuation stays inside);
    - the prefix-ratio rule (``matched_bytes/token_bytes >= 0.75``) applies
      per candidate start;
    - on failure ``miner_c_run`` does NOT reset the stream, so the extractor
      resumes from the token's END (extractor.c:85-88 advances past consumed
      input). Consequently internal delimiters are never attempted mid-scan:
      the effective candidates are exactly the maximal non-space runs, except
      the run at offset 0, which has ONE leading delimiter char stripped when
      ``text[0]`` is a delimiter (the Left-delimiter consume at BOF).
      E.g. ``"(Obama"`` yields candidate ``"Obama"`` but ``"New-York"``
      yields only ``"New-York"`` (never ``"York"``).
    """

    def __init__(self, index: AliasDict, label: str = "NER"):
        self.label = label
        self.index = index
        self._token_re: re.Pattern | None = None
        self._delim_re: re.Pattern | None = None

    def __getstate__(self):
        state = self.__dict__.copy()
        state["_token_re"] = None
        state["_delim_re"] = None
        return state

    @property
    def token_re(self) -> re.Pattern:
        if self._token_re is None:
            from nativeextractor_spark.miners.base import compile_cached

            # token = maximal non-space run (match_fn_plus(not_isspace), ner.c:26)
            self._token_re = compile_cached(f"[^{class_body('space')}]+")
        return self._token_re

    @property
    def delim_re(self) -> re.Pattern:
        if self._delim_re is None:
            from nativeextractor_spark.miners.base import compile_cached

            self._delim_re = compile_cached(f"[{class_body('delim')}]")
        return self._delim_re

    def find(self, text: str) -> Iterator[Occurrence]:
        yield from self.find_batch([text])[0]

    def _candidates(self, text: str) -> list[tuple[int, int, str]]:
        """Candidate (start, end, token) spans in scan order."""
        out = [
            (m.start(), m.end(), m.group())
            for m in self.token_re.finditer(text)
        ]
        # BOF Left-delimiter consume strips one char of a run at offset 0
        if out and out[0][0] == 0 and self.delim_re.match(text, 0):
            e = out[0][1]
            if e > 1:
                out[0] = (1, e, text[1:e])
            else:
                out.pop(0)
        return out

    def _token_matches(self, tokens: set[str]) -> set[str]:
        """Which unique tokens satisfy the prefix-ratio rule (ner.c:29-34)."""
        uniq = list(tokens)
        if not uniq:
            return set()
        probes = [t.encode("utf-8") for t in uniq]
        matched = self.index.longest_prefix(probes)
        lens = np.fromiter((len(p) for p in probes), dtype=np.int64, count=len(probes))
        ok = matched.astype(np.float64) / lens >= NER_PREFIX_RATIO
        return {t for t, good in zip(uniq, ok) if good}

    def find_batch(self, texts: list[str]) -> list[list[Occurrence]]:
        """Amortized batch path: one dictionary probe per *unique* token in
        the batch (the trie D3 lookup is per-key, so dedup is free parity)."""
        doc_spans = [self._candidates(t) for t in texts]
        uniq = {tok for spans in doc_spans for _, _, tok in spans}
        hits = self._token_matches(uniq)
        label, out = self.label, []
        for spans in doc_spans:
            occs = []
            last_end = -1
            for s, e, tok in spans:
                if tok in hits and s >= last_end:
                    occs.append(Occurrence(s, e, label, 1.0))
                    last_end = e
            out.append(occs)
        return out
