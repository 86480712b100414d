"""PII redaction: replace mined entity spans with typed placeholder tokens.

This is where the NativeExtractor mention-detection core plugs directly
into a training-data pipeline: the same miners that feed the KG stages
(email / URL / telephone — ``naive_email_miner.c``, the reference test
regexes) locate PII spans, and the document text is spliced around them.
The kernel is the standard Arrow-batched ``mapInPandas`` scan — one pass,
no shuffle, column-pruned input like every extraction operator.

Overlap rule: spans are processed in occurrence order (pos asc, len asc —
the reference E_SORT_RESULTS order after the enclosed filter); a span
starting inside an already-redacted region is skipped (keep-leftmost), so
the output is deterministic and placeholders never nest.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame


def default_pii_miners():
    from nativeextractor_spark.miners import (
        EmailMiner,
        TelephoneMiner,
        UrlMiner,
    )

    return [EmailMiner(), UrlMiner(), TelephoneMiner()]


def redact_pii(
    df: DataFrame,
    miners: Sequence | None = None,
    text_col: str = "text",
    key_col: str = "url",
) -> DataFrame:
    """(key, text, ...) → (key, text, n_redactions) with every mined span
    replaced by its ``<LABEL>`` placeholder (``<EMAIL>`` / ``<URL>`` /
    ``<TEL_NO>``). Null/empty texts pass through with 0 redactions."""
    from pyspark.sql import functions as F

    from nativeextractor_spark.operators.extract import _postprocess_document

    miners = list(miners) if miners is not None else default_pii_miners()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys = list(pdf[key_col])
            raw = list(pdf[text_col])
            # one find_batch per miner over the whole Arrow batch — keeps
            # batch-amortized miners (e.g. GazetteerMiner's per-unique-
            # token dictionary probing) at full strength, exactly like the
            # extraction kernel
            idx = [i for i, t in enumerate(raw) if isinstance(t, str) and t]
            texts = [raw[i] for i in idx]
            per_miner = [m.find_batch(texts) for m in miners]
            out = [t if isinstance(t, str) else None for t in raw]
            counts = [0] * len(raw)
            for j, i in enumerate(idx):
                text = raw[i]
                cols = _postprocess_document(
                    text,
                    [o for pm in per_miner for o in pm[j]],
                    no_enclosed=True,
                )
                parts: list[str] = []
                last = 0
                n = 0
                for s, l, lab in zip(
                    cols["upos"], cols["ulen"], cols["label"]
                ):
                    s = int(s)
                    e = s + int(l)
                    if s < last:
                        continue  # keep-leftmost on partial overlap
                    parts.append(text[last:s])
                    parts.append(f"<{lab}>")
                    last = e
                    n += 1
                parts.append(text[last:])
                out[i] = "".join(parts)
                counts[i] = n
            yield pd.DataFrame(
                {key_col: keys, "text": out, "n_redactions": counts}
            )

    projected = df.select(
        F.col(key_col).cast("string").alias(key_col), F.col(text_col).alias(text_col)
    )
    return projected.mapInPandas(
        kernel, schema=f"{key_col} string, text string, n_redactions int"
    )
