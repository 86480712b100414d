"""Unicode character classes with glib parity + UTF-8 byte-offset utilities.

The reference engine's only scalar predicates are glib-backed char classes
(``/root/reference/src/unicode.c:22-66``) and the load-bearing "delimiter"
definition ``space ∪ punct ∪ cntrl`` (``/root/reference/src/miner.c:207-211``).
glib semantics we reproduce from Unicode general categories:

- ``isspace``  → {TAB LF VT FF CR} ∪ categories Zs, Zl, Zp
- ``ispunct``  → categories P* ∪ S*  (glib: "punctuation or symbol")
- ``iscntrl``  → category Cc
- ``isalpha``  → categories L*
- ``isdigit``  → category Nd
- ``isalnum``  → isalpha ∪ isdigit

Everything is computed once per Python process from ``unicodedata`` and cached;
the compiled regex character classes below are the executor-side "broadcast
tables" (compile once, scan forever — the Spark analogue of the reference's
regex→``.so`` codegen, ``/root/reference/src/regex_generator.c:1287-1387``).

Occurrence records carry byte *and* unicode offsets exactly like the reference
(``/root/reference/include/nativeextractor/occurrence.h:21-29``);
:func:`char_byte_offsets` supplies the unicode→byte mapping for non-ASCII docs.
"""

from __future__ import annotations

import sys
import unicodedata
from functools import lru_cache

import numpy as np

_MAX_CP = sys.maxunicode + 1  # 0x110000

_SPACE_SPECIALS = frozenset("\t\n\v\f\r")
_SPACE_CATS = frozenset({"Zs", "Zl", "Zp"})
_PUNCT_PREFIX = ("P", "S")
_CNTRL_CATS = frozenset({"Cc"})
_ALPHA_PREFIX = ("L",)
_DIGIT_CATS = frozenset({"Nd"})


def _build_category_table() -> np.ndarray:
    # bits: 1=space 2=punct 4=cntrl 8=alpha 16=digit
    table = np.zeros(_MAX_CP, dtype=np.uint8)
    cat = unicodedata.category
    for cp in range(_MAX_CP):
        c = cat(chr(cp))
        bits = 0
        if c in _SPACE_CATS:
            bits |= 1
        if c[0] in _PUNCT_PREFIX:
            bits |= 2
        if c in _CNTRL_CATS:
            bits |= 4
        if c[0] in _ALPHA_PREFIX[0]:
            bits |= 8
        if c in _DIGIT_CATS:
            bits |= 16
        table[cp] = bits
    for ch in _SPACE_SPECIALS:
        table[ord(ch)] |= 1
    return table


@lru_cache(maxsize=None)
def _category_table() -> np.ndarray:
    """uint8 class-bit table over all codepoints.

    Building it costs ~1 s of per-process Python (1.1M unicodedata calls)
    — with N fresh executor workers that is N seconds of first-task
    latency. The table is therefore cached on local disk keyed by the
    Unicode database version: the first process on a host builds and
    writes it atomically, every other worker memory-maps it in
    milliseconds. Falls back to building in-process on any I/O issue."""
    import os
    import stat as statmod
    import tempfile

    # per-user private cache dir: a world-shared /tmp path would let any
    # local user pre-plant a well-shaped table and silently poison every
    # character-class decision (delimiters, PII spans, glob matches)
    cache_dir = os.path.join(
        tempfile.gettempdir(),
        f"nativeextractor_spark_{os.getuid() if hasattr(os, 'getuid') else 'u'}",
    )
    cache = os.path.join(
        cache_dir,
        f"ucd_{unicodedata.unidata_version}_{_MAX_CP}.npy",
    )

    def _dir_trusted() -> bool:
        # lstat + S_ISDIR: a pre-planted symlink at the predictable path
        # must not redirect cache reads/writes into an attacker-chosen
        # victim-owned directory (os.stat would follow it)
        st = os.lstat(cache_dir)
        if not statmod.S_ISDIR(st.st_mode):
            return False
        owned = not hasattr(os, "getuid") or st.st_uid == os.getuid()
        return owned and not (st.st_mode & (statmod.S_IWGRP | statmod.S_IWOTH))

    try:
        os.makedirs(cache_dir, mode=0o700, exist_ok=True)
        if _dir_trusted() and os.path.exists(cache):
            table = np.load(cache, mmap_mode="r")
            if table.shape == (_MAX_CP,) and table.dtype == np.uint8:
                return table
    except Exception:
        pass
    table = _build_category_table()
    try:
        if _dir_trusted():
            # suffix .npy so np.save writes the mkstemp file itself (no
            # stray placeholder left behind), then atomic rename
            fd, tmp = tempfile.mkstemp(dir=cache_dir, suffix=".npy")
            os.close(fd)
            np.save(tmp, table)
            os.replace(tmp, cache)
    except Exception:
        pass
    return table


def _mask(bits: int) -> np.ndarray:
    return (_category_table() & bits) != 0


@lru_cache(maxsize=None)
def class_mask(name: str) -> np.ndarray:
    """Boolean codepoint-membership mask for a named class."""
    bits = {
        "space": 1,
        "punct": 2,
        "cntrl": 4,
        "alpha": 8,
        "digit": 16,
        "alnum": 8 | 16,
        "delim": 1 | 2 | 4,
    }[name]
    return _mask(bits)


def _mask_to_ranges(mask: np.ndarray) -> list[tuple[int, int]]:
    """Compress a boolean codepoint mask into inclusive (lo, hi) ranges."""
    idx = np.flatnonzero(mask)
    if idx.size == 0:
        return []
    breaks = np.flatnonzero(np.diff(idx) != 1)
    starts = np.concatenate(([0], breaks + 1))
    ends = np.concatenate((breaks, [idx.size - 1]))
    out = []
    for s, e in zip(idx[starts], idx[ends]):
        # surrogates (U+D800-DFFF) can't appear in decoded str; split around them
        if s <= 0xD7FF < 0xE000 <= e:
            out.append((int(s), 0xD7FF))
            out.append((0xE000, int(e)))
        else:
            out.append((int(s), int(e)))
    return out


def _escape_cp(cp: int) -> str:
    """Escape a codepoint for use inside a regex character class."""
    ch = chr(cp)
    if ch in r"\^]-[":
        return "\\" + ch
    if cp < 0x20 or 0x7F <= cp < 0xA0 or 0xD800 <= cp < 0xE000:
        return f"\\u{cp:04x}" if cp <= 0xFFFF else f"\\U{cp:08x}"
    return ch


@lru_cache(maxsize=None)
def class_body(name: str, negate: bool = False, bmp: bool = False) -> str:
    """Regex character-class *body* (no surrounding brackets) for a class.

    ``bmp=True`` keeps only the members up to U+FFFF. Python's ``re``
    tests those with one table lookup, but walks the astral ranges one by
    one for every character outside that table, which makes a negated
    ``delim`` class several times slower per character. On text without
    astral characters (:func:`is_bmp`) both bodies match the same."""
    ranges = _mask_to_ranges(class_mask(name))
    if bmp:
        ranges = [(lo, min(hi, 0xFFFF)) for lo, hi in ranges if lo <= 0xFFFF]
    parts = []
    for lo, hi in ranges:
        if lo == hi:
            parts.append(_escape_cp(lo))
        elif hi == lo + 1:
            parts.append(_escape_cp(lo) + _escape_cp(hi))
        else:
            parts.append(f"{_escape_cp(lo)}-{_escape_cp(hi)}")
    return "".join(parts)


def is_bmp(text: str) -> bool:
    """True iff ``text`` has no character above U+FFFF."""
    return text.isascii() or len(
        text.encode("utf-16-le", "surrogatepass")
    ) == 2 * len(text)


def is_delimiter(ch: str) -> bool:
    """Reference ``is_delimiter``: space ∪ punct ∪ cntrl (miner.c:207-211)."""
    return bool(class_mask("delim")[ord(ch)])


def char_byte_offsets(text: str) -> np.ndarray:
    """Byte offset of each unicode char (len+1 entries; last = total bytes).

    Used to derive the reference's dual offsets: ``pos/len`` in bytes and
    ``upos/ulen`` in chars (occurrence.h:23-26). For ASCII-only text callers
    should skip this (byte offset == char offset).
    """
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    # UTF-8 lead bytes: everything except continuation bytes 0b10xxxxxx
    lead = (data & 0xC0) != 0x80
    starts = np.flatnonzero(lead)
    return np.concatenate((starts, [data.size])).astype(np.int64)
