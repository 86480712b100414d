"""Triple extraction: sentence-window mention co-occurrence.

North-rule stage (BASELINE.json): co-occurring mentions within sentence
windows become ``(subj, pred, obj)`` triples. The reference engine stops at
occurrences; sentence windows reuse its span machinery — sentence segmentation
is the same delimiter scan the miners use (``is_delimiter``,
``/root/reference/src/miner.c:207-211``), and mention↔sentence assignment is
interval containment done *in-kernel* (the reference's enclosed-span interval
predicate, ``extractor.c:145-203``, repurposed) — avoiding any join.

Scale design: triples are emitted directly from the same single-pass
``mapInPandas`` scan that mines mentions. No shuffle until the downstream
weight aggregation (``groupBy(subj, pred, obj)`` — partial aggregation is
Catalyst-automatic).

Determinism contract (the parity surface for P/R scoring):
- sentences split at runs of ``[.!?\\n]`` (outside-URL heuristic not needed:
  miners run first and mention spans are never split);
- within a sentence, mentions sorted by pos; ordered pairs (i, j), i<j, with
  at most ``max_pairs_per_sentence`` pairs taken in sorted order;
- pred = whitespace-normalized lowercased text strictly between the two
  mention spans, truncated to ``max_pred_chars``; empty → ``"near"``;
- prob = min(prob_s, prob_o).
"""

from __future__ import annotations

import re
from typing import Iterator, Sequence

import numpy as np
import pandas as pd

from nativeextractor_spark.miners.base import Miner
from nativeextractor_spark.operators.extract import scan_document

TRIPLE_SCHEMA = (
    "subj string, subj_type string, pred string, obj string, obj_type string,"
    " url string, pos_s long, pos_o long, prob float"
)

_SENT_SPLIT = re.compile(r"[.!?\n]+")
_WS = re.compile(r"\s+")


def _sentence_bounds(text: str) -> list[tuple[int, int]]:
    bounds = []
    start = 0
    for m in _SENT_SPLIT.finditer(text):
        if m.start() > start:
            bounds.append((start, m.start()))
        start = m.end()
    if start < len(text):
        bounds.append((start, len(text)))
    return bounds


def document_triples(
    url: str,
    text: str,
    miners: Sequence[Miner],
    *,
    max_pairs_per_sentence: int = 16,
    max_pred_chars: int = 48,
    cols: dict | None = None,
) -> list[tuple]:
    """All triples of one document (deterministic; see module contract).

    ``cols`` lets callers pass pre-mined occurrence columns (the batched
    kernel path); otherwise the document is scanned here.
    """
    if cols is None:
        cols = scan_document(text, miners, no_enclosed=True)
    n = len(cols["label"])
    if n < 2:
        return []
    # upos/ulen are unicode char offsets — usable for slicing directly
    us, ue = cols["upos"], cols["upos"] + cols["ulen"]
    sents = _sentence_bounds(text)
    if not sents:
        return []
    sent_starts = np.array([s for s, _ in sents], dtype=np.int64)
    # assign each mention to the sentence containing its START: NER tokens
    # may legitimately end with the sentence terminator ("Bob." is one
    # non-space token, ner.c:26) and URLs contain dots — end-containment
    # would drop both.
    sidx = np.searchsorted(sent_starts, us, side="right") - 1
    inside = sidx >= 0
    triples: list[tuple] = []
    for s in np.unique(sidx[inside]):
        members = np.flatnonzero(inside & (sidx == s))
        if members.size < 2:
            continue
        pairs = 0
        for ai in range(members.size - 1):
            if pairs >= max_pairs_per_sentence:
                break
            for bi in range(ai + 1, members.size):
                if pairs >= max_pairs_per_sentence:
                    break
                a, b = members[ai], members[bi]
                between = text[int(ue[a]) : int(us[b])]
                pred = _WS.sub(" ", between).strip().lower()[:max_pred_chars].strip()
                if not pred:
                    pred = "near"
                triples.append(
                    (
                        cols["str"][a],
                        cols["label"][a],
                        pred,
                        cols["str"][b],
                        cols["label"][b],
                        url,
                        int(cols["pos"][a]),
                        int(cols["pos"][b]),
                        float(min(cols["prob"][a], cols["prob"][b])),
                    )
                )
                pairs += 1
    return triples


def extract_triples(
    pages_df,
    miners: Sequence[Miner],
    *,
    key_col: str = "url",
    text_col: str = "text",
    max_pairs_per_sentence: int = 16,
):
    """pages → triples DataFrame, single scan pass, no shuffle."""
    from pyspark.sql import functions as F

    miners = list(miners)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from nativeextractor_spark.operators.extract import _postprocess_document

        out_cols = [
            "subj", "subj_type", "pred", "obj", "obj_type",
            "url", "pos_s", "pos_o", "prob",
        ]
        for pdf in batches:
            texts: list[str] = []
            doc_keys: list = []
            for key, text in zip(pdf[key_col], pdf["text"]):
                if isinstance(text, str) and text:
                    texts.append(text)
                    doc_keys.append(key)
            per_miner = [m.find_batch(texts) for m in miners]
            rows: list[tuple] = []
            for i, (key, text) in enumerate(zip(doc_keys, texts)):
                cols = _postprocess_document(
                    text,
                    [o for occs in per_miner for o in occs[i]],
                    no_enclosed=True,
                )
                rows.extend(
                    document_triples(
                        key, text, miners,
                        max_pairs_per_sentence=max_pairs_per_sentence,
                        cols=cols,
                    )
                )
            yield pd.DataFrame(rows, columns=out_cols)

    from nativeextractor_spark.operators.extract import coalesce_for_kernel

    projected = coalesce_for_kernel(
        pages_df.select(
            F.col(key_col).cast("string").alias(key_col),
            F.col(text_col).alias("text"),
        )
    )
    return projected.mapInPandas(kernel, schema=TRIPLE_SCHEMA)


def weight_triples(triples_df):
    """Aggregate triple weights (one shuffle; map-side partial agg)."""
    from pyspark.sql import functions as F

    return triples_df.groupBy("subj", "pred", "obj").agg(
        F.count("*").alias("weight"),
        F.min("prob").alias("min_prob"),
        F.countDistinct("url").alias("n_urls"),
    )
