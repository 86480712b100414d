"""Miner base classes.

A *miner* in the reference is a cursor matcher over a byte stream
(``/root/reference/include/nativeextractor/miner.h:44-297``); the extractor
runs every miner over the stream and unions their occurrence outputs
(``/root/reference/src/extractor.c:205-261``). Per-miner matches are
non-overlapping and leftmost (``extractor.c:59``, ``miner.c:36-51``).

Here a miner is a *compiled matcher object* built once at the driver,
broadcast (pickled) to executors, and executed inside Arrow-batched
``mapInPandas`` kernels. The default execution engine is a compiled
``re`` pattern — a C-level DFA/backtracker, the Spark-side analogue of the
reference's "compile regex to native .so once, scan forever"
(``/root/reference/src/regex_generator.c:1287-1387``). ``re.finditer``
reproduces the reference's leftmost non-overlapping scan rule.

Miners return occurrences in *unicode char* offsets; the extraction kernel
derives byte offsets (the reference keeps both: ``occurrence.h:23-26``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache
from typing import Iterator


@lru_cache(maxsize=512)
def compile_cached(pattern: str) -> re.Pattern:
    """Per-process compile cache: miners are deserialized per task, but the
    compiled pattern is shared across tasks within a worker (reference X7,
    compile-once/reuse — extractor.c:316-336)."""
    return re.compile(pattern)


@dataclass(frozen=True)
class Occurrence:
    """Mirror of the reference ``occurrence_t`` in char coordinates.

    ``ustart``/``uend`` are unicode char offsets into the document text;
    byte ``pos/len`` are derived later from the document's UTF-8 encoding.
    """

    ustart: int
    uend: int
    label: str
    prob: float = 1.0


class Miner:
    """Abstract miner: text in, leftmost non-overlapping occurrences out."""

    label: str = "Miner"

    def find(self, text: str) -> Iterator[Occurrence]:
        raise NotImplementedError

    def find_batch(self, texts: list[str]) -> list[list[Occurrence]]:
        """Batch hook: miners that can amortize work across an Arrow batch
        (e.g. dictionary lookups) override this; default is per-doc find()."""
        return [list(self.find(t)) for t in texts]

    def __repr__(self) -> str:  # pragma: no cover
        return f"{type(self).__name__}(label={self.label!r})"


class PatternMiner(Miner):
    """Miner backed by a single compiled regex.

    The compiled pattern is rebuilt lazily per Python worker process (compile
    once per executor, reuse across tasks — reference X7 ``extractor.c:316-336``).
    """

    def __init__(self, label: str, pattern: str, prob: float = 1.0):
        self.label = label
        self.pattern = pattern
        self.prob = prob
        self._compiled: re.Pattern | None = None

    def __getstate__(self):
        state = self.__dict__.copy()
        state["_compiled"] = None
        return state

    @property
    def compiled(self) -> re.Pattern:
        if self._compiled is None:
            self._compiled = compile_cached(self.pattern)
        return self._compiled

    def find(self, text: str) -> Iterator[Occurrence]:
        return self._find_with(self.compiled, text)

    def _find_with(self, compiled: re.Pattern, text: str) -> Iterator[Occurrence]:
        for m in compiled.finditer(text):
            s, e = m.span()
            # make_occurrence rejects empty spans (miner.c:261-264)
            if s != e:
                yield Occurrence(s, e, self.label, self.prob)
