"""Seeded input generation for the benchmark, cached on disk.

Inputs are generated here, in the benchmark's own code, and handed to the
jobs only as tables on disk: the program never sees the seed.  The same
(kind, seed, size) always yields byte-identical tables, and the cache
directory name carries all three, so a table generated from one seed is
never reused for another.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Fixed vocabulary (independent of the seed).  Contains words the ngrep
# globs ``s*k`` and ``*i*k*`` match, and enough distinct words that random
# lines pass the Gopher repetition rules.
_SYLLABLES = [
    "ba", "ce", "di", "fo", "gu", "ha", "ke", "li", "mo", "nu", "pa", "re",
    "si", "to", "vu", "wa", "ze", "lo", "mi", "ra",
]
_STOP = ["the", "to", "of", "and", "that", "have", "with", "be"]
_GLOB_WORDS = [
    "stick", "stock", "silk", "spark", "shrink", "slink", "sunk", "sketch",
    "pink", "think", "drink", "ink", "kick", "trick", "bricks", "milky",
]
_VOCAB = sorted(
    {a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in ("", "n", "st")}
)[:1500] + _GLOB_WORDS

_FIRST = [
    "John", "Maria", "Antonín", "Petra", "Karel", "Anna", "Tomáš", "Eva",
    "Jan", "Lucie", "Pavel", "Hana", "Jiří", "Alice", "Martin", "Clara",
]
_LAST = [
    "Dvořák", "Novák", "Smith", "Svoboda", "Brown", "Müller", "García",
    "Wilson", "Černý", "Horák", "Miller", "Kučera", "Procházka", "Veselý",
]
_ORG = ["Acme", "Globex", "Initech", "Hooli", "Vandelay", "Tyrell", "Nexus"]
_ORG_SUFFIX = ["Corp", "Labs", "Systems", "Group"]
_LOC = ["Prague", "Brno", "Vienna", "Berlin", "Plzeň", "Kraków", "Zurich"]
_HOT_DOMAINS = ["popular.example", "big-news.example", "mega-portal.example"]
_BOILERPLATE = [
    "share this page with your friends and sign up to the newsletter today",
    "all rights reserved and the terms of use apply to all of the content here",
    "cookies help us deliver our services and by using them you agree to that",
]

PAGES_SCHEMA = pa.schema([("url", pa.string()), ("text", pa.string())])


def _fold(s: str) -> str:
    import unicodedata

    return "".join(
        c for c in unicodedata.normalize("NFD", s) if unicodedata.category(c) != "Mn"
    )


def alias_rows(seed: int) -> list[tuple[str, int, str, str]]:
    """(alias, entity_id, canonical, entity_type) with surface variants
    (case, initials, stripped diacritics) so canonicalization has work."""
    rng = random.Random(seed * 7919 + 1)
    rows, seen = [], set()

    def add(alias, eid, canonical, etype):
        if alias not in seen:
            seen.add(alias)
            rows.append((alias, eid, canonical, etype))

    for eid in range(400):
        kind = rng.choice(["PER", "PER", "ORG", "LOC"])
        if kind == "PER":
            first, last = rng.choice(_FIRST), rng.choice(_LAST)
            canonical = f"{first} {last}"
            for alias in (canonical, f"{first[0]}. {last}", canonical.lower(), _fold(canonical)):
                add(alias, eid, canonical, kind)
        elif kind == "ORG":
            name = rng.choice(_ORG)
            canonical = f"{name} {rng.choice(_ORG_SUFFIX)}"
            for alias in (canonical, name, canonical.upper()):
                add(alias, eid, canonical, kind)
        else:
            canonical = rng.choice(_LOC)
            for alias in (canonical, canonical.lower(), _fold(canonical)):
                add(alias, eid, canonical, kind)
    return rows


def _entity(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.3:
        return f"user{rng.randint(0, 9999)}@mail{rng.randint(0, 99)}.example.com"
    if r < 0.55:
        return f"https://site{rng.randint(0, 999)}.example/path/{rng.randint(0, 99)}"
    if r < 0.8:
        return f"{rng.randint(1990, 2026)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    return f"+{rng.randint(100, 999)} {rng.randint(100, 999)} {rng.randint(1000, 999999)}"


def kg_page_text(rng: random.Random, aliases: list[str]) -> str:
    """A page of 3-9 sentences; 45% of sentences carry two alias mentions
    (a triple), 40% one email/url/date/phone."""
    sentences = []
    for _ in range(rng.randint(3, 9)):
        words = [rng.choice(_VOCAB) for _ in range(rng.randint(4, 10))]
        words.insert(rng.randint(0, len(words)), rng.choice(_STOP))
        r = rng.random()
        if r < 0.45:
            k = rng.randint(1, len(words) - 1)
            words.insert(k, rng.choice(aliases))
            words.insert(min(k + rng.randint(1, 3), len(words)), rng.choice(aliases))
        elif r < 0.85:
            words.insert(rng.randint(0, len(words)), _entity(rng))
        sentences.append(" ".join(words) + ".")
    return " ".join(sentences)


def _url(rng: random.Random, i: int) -> str:
    domain = rng.choice(_HOT_DOMAINS) if rng.random() < 0.30 else f"host-{i % 997}.example"
    return f"https://{domain}/page/{i:07d}"


def kg_pages(seed: int, n_pages: int) -> tuple[list, list]:
    aliases = [a for a, *_ in alias_rows(seed)]
    urls, texts = [], []
    for i in range(n_pages):
        rng = random.Random(seed * 1_000_003 + i)
        urls.append(_url(rng, i))
        texts.append(kg_page_text(rng, aliases))
    return urls, texts


def _line(rng: random.Random, n_words: int) -> str:
    words = [rng.choice(_VOCAB) for _ in range(n_words)]
    for _ in range(3):
        words.insert(rng.randint(0, len(words)), rng.choice(_STOP))
    if rng.random() < 0.2:
        words.insert(rng.randint(0, len(words)), _entity(rng))
    return " ".join(words)


def _edit(rng: random.Random, line: str) -> str:
    """Replace one word of the line: a near copy keeps a 3-shingle Jaccard
    of about 0.85 with its original, above the 0.7 verify threshold."""
    words = line.split(" ")
    words[rng.randrange(len(words))] = rng.choice(_VOCAB)
    return " ".join(words)


def curate_pages(seed: int, n_base: int) -> tuple[list, list, dict]:
    """``n_base`` multi-line pages plus planted duplicates.

    - 10% of pages get an exact copy under another url that sorts after the
      original (so the keep-smallest-id rule must drop the copy);
    - 10% get a near copy with one word edited in every line (every line
      differs, so line dedup leaves it whole and only near-dedup can drop it);
    - 6% (never fewer than 250, more than ``lsh_max_bucket`` = 200) start
      with one shared 30-word prefix, so an LSH bucket overflows its cap;
    - 30% end with one of three shared boilerplate lines for line dedup.
    """
    rng = random.Random(seed * 1_000_003 + 17)
    hot_prefix = _line(random.Random(seed), 30)
    n_hot = max(250, n_base * 6 // 100)
    urls, texts, lines_of = [], [], []
    for i in range(n_base):
        lines = [_line(rng, rng.randint(30, 45)) for _ in range(rng.randint(3, 7))]
        if i < n_hot:
            lines[0] = hot_prefix + " " + lines[0]
        if rng.random() < 0.30:
            lines.append(rng.choice(_BOILERPLATE))
        urls.append(_url(rng, i))
        texts.append("\n".join(lines))
        lines_of.append(lines)
    exact, near = [], []
    for i in rng.sample(range(n_base), n_base // 5):
        if len(exact) < n_base // 10:
            exact.append(urls[i] + "/copy")
            urls.append(exact[-1])
            texts.append(texts[i])
        else:
            near.append(urls[i] + "/near")
            urls.append(near[-1])
            texts.append("\n".join(_edit(rng, ln) for ln in lines_of[i]))
    order = list(range(len(urls)))
    rng.shuffle(order)
    planted = {"exact_copies": exact, "near_copies": near, "hot_prefix_docs": n_hot}
    return [urls[i] for i in order], [texts[i] for i in order], planted


def stream_text(seed: int, n_bytes: int) -> str:
    """Generated page texts joined by newlines, about ``n_bytes`` long."""
    aliases = [a for a, *_ in alias_rows(seed)]
    parts, size, i = [], 0, 0
    while size < n_bytes:
        t = kg_page_text(random.Random(seed * 1_000_003 + i), aliases)
        parts.append(t)
        size += len(t.encode("utf-8")) + 1
        i += 1
    return "\n".join(parts)


def _write_pages(path: str, urls: list, texts: list) -> None:
    pq.write_table(pa.table([urls, texts], schema=PAGES_SCHEMA), path)


def _write_aliases(path: str, seed: int) -> None:
    rows = alias_rows(seed)
    pacsv.write_csv(
        pa.table(
            {
                "alias": [r[0] for r in rows],
                "entity_id": [r[1] for r in rows],
                "canonical": [r[2] for r in rows],
                "entity_type": [r[3] for r in rows],
            }
        ),
        path,
    )


def _generate(kind: str, seed: int, size: int, d: str) -> dict:
    if kind == "kg":
        urls, texts = kg_pages(seed, size)
        _write_pages(os.path.join(d, "pages.parquet"), urls, texts)
        _write_aliases(os.path.join(d, "aliases.csv"), seed)
        return {"docs": len(urls), "bytes": sum(len(t.encode()) for t in texts)}
    if kind == "curate":
        urls, texts, planted = curate_pages(seed, size)
        _write_pages(os.path.join(d, "pages.parquet"), urls, texts)
        return {
            "docs": len(urls),
            "bytes": sum(len(t.encode()) for t in texts),
            **planted,
        }
    if kind == "stream":
        text = stream_text(seed, size)
        _write_pages(os.path.join(d, "pages.parquet"), ["stream://0"], [text])
        return {"docs": 1, "bytes": len(text.encode())}
    raise ValueError(f"unknown input kind {kind!r}")


def prepare(cache_root: str, kind: str, seed: int, size: int) -> dict:
    """Generate (or reuse) the input tables for (kind, seed, size).

    Returns a dict with ``dir`` plus the generator's facts about the input
    (document count, text bytes, planted duplicates)."""
    import json

    d = os.path.join(cache_root, f"{kind}-seed{seed}-n{size}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = _generate(kind, seed, size, tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(meta_path) as f:
        return {"dir": d, **json.load(f)}
