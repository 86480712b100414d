"""Document scan → occurrences: the extractor core as a mapInPandas kernel.

Reference lifecycle (``/root/reference/src/extractor.c:205-261``): N miners
scan one stream in a thread pool, outputs are unioned, optionally filtered
for enclosed spans (``E_NO_ENCLOSED_OCCURRENCES``, :145-203) and sorted by
(pos asc, len asc) (``E_SORT_RESULTS``, :102-123).

Spark inversion: the reference parallelizes miners-within-one-stream; we
parallelize documents-across-tasks (one Arrow batch of documents per kernel
call, all miners per document — same result set because miners are
independent and outputs are unioned). The canonical mode scans whole
documents (batch = document), so the cross-batch ``last_max`` approximation
(extractor.c:69-76) never applies and filtering is exact.

Scale notes (100 TB design):
- The kernel is the ONLY data-path Python; everything feeding it is a
  columnar parquet/Iceberg scan with column pruning (only ``url, text`` are
  read — the ``html`` binary never leaves the scan).
- No shuffle: occurrences are emitted directly from the scan task. Sorting
  and the enclosed filter are per-document and run in-kernel on NumPy arrays.
- Miners are compiled once at the driver and shipped by closure pickling —
  compile-once/broadcast, the analogue of the reference's ``.so`` cache
  (extractor.c:316-336).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd

from nativeextractor_spark.functions.unicode import char_byte_offsets
from nativeextractor_spark.miners.base import Miner

OCCURRENCE_FIELDS = ["pos", "upos", "len", "ulen", "label", "prob", "str"]
OCCURRENCE_SCHEMA = (
    "url string, pos long, upos long, len int, ulen int,"
    " label string, prob float, str string"
)


# coalesce_for_kernel's bounds: task waves per slot (2 measured best on
# the bench box; 1 was slightly faster but left no straggler slack) and
# source bytes per map task
_KERNEL_WAVES = 2
_KERNEL_TARGET_BYTES = 64 << 20


def coalesce_for_kernel(df):
    """Merge tiny input partitions before a per-task-expensive boundary
    (guide §2.2/§6: fewer, larger map tasks) — scale-adaptive, shuffle-free.

    Every mapInPandas task pays a fixed JVM↔Python setup cost (measured
    ~5 ms/task on the bench box — Arrow stream setup + worker handshake,
    ~10x the JVM-only task overhead), and every shuffle MAP task pays
    sort-shuffle file setup; a scan split into thousands of tiny
    partitions therefore spends more time entering tasks than computing
    (measured: a 50k-row groupBy was 2.6 s from 500 map tasks, 0.7 s from
    128). ``coalesce`` merges co-located splits WITHOUT a shuffle and
    never increases the partition count, so coarser inputs pass through
    unchanged. The target partition count is the MAX of two scale-adaptive
    bounds, so the cap can never create oversized tasks at real data
    volumes:

    - ``defaultParallelism * _KERNEL_WAVES`` — two task waves per slot for
      scheduling granularity and straggler smoothing;
    - ``plan size / _KERNEL_TARGET_BYTES`` (Catalyst's optimized-plan size
      stat; 64 MB) — keep map tasks near that size; at 100 TB this term
      dominates and the coalesce becomes a no-op, preserving the standard
      ~hundreds-of-MB task sizing.
    """
    floor_parts = df.sparkSession.sparkContext.defaultParallelism * _KERNEL_WAVES
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # stats unavailable: do nothing rather than guess
        return df
    # clamp to int32 for py4j: an unknown-stats plan reports ~2^63 bytes,
    # which must resolve to "no coalesce", not an overflow
    parts = max(floor_parts, size // _KERNEL_TARGET_BYTES, 1)
    return df.coalesce(int(min(parts, (1 << 31) - 1)))


def enclosed_keep_mask(pos: np.ndarray, end: np.ndarray) -> np.ndarray:
    """Vectorized E_NO_ENCLOSED_OCCURRENCES (extractor.c:145-203).

    Drop span b iff some span a satisfies ``a.pos <= b.pos && b.end <= a.end``
    and (a.pos, a.end) != (b.pos, b.end) — identical spans with different
    labels are kept (extractor.c:166-169).

    O(n log n): sort unique spans by (pos asc, end desc); a span is dominated
    iff the running max end over strictly-smaller pos reaches its end, or an
    equal-pos span has a strictly larger end.
    """
    n = pos.size
    if n <= 1:
        return np.ones(n, dtype=bool)
    # r7: the group logic runs DIRECTLY on the lexsorted rows — the old
    # np.unique(axis=0) canonicalization was redundant (identical spans
    # land in the same pos group with equal ends, and both dominance
    # tests are strict about them) and cost ~60% of the whole per-doc
    # post-process at typical 5-10-occurrence documents (np.unique with
    # axis=0 void-views and sorts rows).
    order = np.lexsort((-end, pos))  # pos asc, end desc
    spos, send = pos[order], end[order]
    # max end within each pos group = end of the group's first row
    group_first = np.concatenate(([True], spos[1:] != spos[:-1]))
    first_idx = np.maximum.accumulate(np.where(group_first, np.arange(n), 0))
    max_end_in_group = send[first_idx]
    # running max end over all strictly-earlier pos groups
    group_start_positions = np.flatnonzero(group_first)
    group_max = send[group_start_positions]  # per-group max end (first row)
    prev_group_cummax = np.concatenate(
        ([np.iinfo(np.int64).min], np.maximum.accumulate(group_max)[:-1])
    )
    group_id = np.cumsum(group_first) - 1
    dominated = (prev_group_cummax[group_id] >= send) | (max_end_in_group > send)
    keep = np.empty(n, dtype=bool)
    keep[order] = ~dominated
    return keep


def scan_document(
    text: str,
    miners: Sequence[Miner],
    *,
    no_enclosed: bool = True,
) -> dict[str, np.ndarray | list]:
    """Run all miners over one document; returns occurrence columns.

    Exact whole-document equivalent of the reference ``next()`` loop with
    E_SORT_RESULTS (always on) and E_NO_ENCLOSED_OCCURRENCES (``no_enclosed``).
    """
    per_miner = [m.find_batch([text])[0] for m in miners]
    return _postprocess_document(
        text,
        [o for occs in per_miner for o in occs],
        no_enclosed=no_enclosed,
    )


def _postprocess_document(
    text: str,
    occs: list,
    *,
    no_enclosed: bool,
) -> dict[str, np.ndarray | list]:
    ustarts: list[int] = []
    uends: list[int] = []
    labels: list[str] = []
    probs: list[float] = []
    for occ in occs:  # O1 union by construction
        ustarts.append(occ.ustart)
        uends.append(occ.uend)
        labels.append(occ.label)
        probs.append(occ.prob)

    us = np.asarray(ustarts, dtype=np.int64)
    ue = np.asarray(uends, dtype=np.int64)
    if text.isascii():
        pos, end = us, ue
    else:
        offsets = char_byte_offsets(text)
        pos, end = offsets[us], offsets[ue]

    if no_enclosed and us.size:
        keep = enclosed_keep_mask(pos, end)
        us, ue, pos, end = us[keep], ue[keep], pos[keep], end[keep]
        labels = [l for l, k in zip(labels, keep) if k]
        probs = [p for p, k in zip(probs, keep) if k]

    if us.size:  # O2: (pos asc, len asc); label for determinism
        lens = end - pos
        order = np.lexsort((np.asarray(labels, dtype=object), lens, pos))
        us, ue, pos, end = us[order], ue[order], pos[order], end[order]
        labels = [labels[i] for i in order]
        probs = [probs[i] for i in order]

    return {
        "pos": pos,
        "upos": us,
        "len": (end - pos).astype(np.int32),
        "ulen": (ue - us).astype(np.int32),
        "label": labels,
        "prob": np.asarray(probs, dtype=np.float32),
        "str": [text[s:e] for s, e in zip(us, ue)],
    }


def _make_kernel(miners: Sequence[Miner], no_enclosed: bool, key_col: str):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # batch-amortized mining (find_batch), then per-doc post-process;
            # ONE output DataFrame per Arrow batch
            keys: list = []
            parts: list[dict] = []
            texts: list[str] = []
            doc_keys: list = []
            for key, text in zip(pdf[key_col], pdf["text"]):
                if isinstance(text, str) and text:
                    texts.append(text)
                    doc_keys.append(key)
                # else: empty stream yields EOF immediately (stream.c:64-67)
            per_miner = [m.find_batch(texts) for m in miners]
            for i, (key, text) in enumerate(zip(doc_keys, texts)):
                cols = _postprocess_document(
                    text,
                    [o for occs in per_miner for o in occs[i]],
                    no_enclosed=no_enclosed,
                )
                n = len(cols["label"])
                if n == 0:
                    continue
                keys.extend([key] * n)
                parts.append(cols)
            if parts:
                yield pd.DataFrame(
                    {
                        key_col: keys,
                        "pos": np.concatenate([p["pos"] for p in parts]),
                        "upos": np.concatenate([p["upos"] for p in parts]),
                        "len": np.concatenate([p["len"] for p in parts]),
                        "ulen": np.concatenate([p["ulen"] for p in parts]),
                        "label": [l for p in parts for l in p["label"]],
                        "prob": np.concatenate([p["prob"] for p in parts]),
                        "str": [s for p in parts for s in p["str"]],
                    }
                )
            else:
                yield pd.DataFrame(
                    {
                        key_col: pd.Series([], dtype=object),
                        "pos": pd.Series([], dtype=np.int64),
                        "upos": pd.Series([], dtype=np.int64),
                        "len": pd.Series([], dtype=np.int32),
                        "ulen": pd.Series([], dtype=np.int32),
                        "label": pd.Series([], dtype=object),
                        "prob": pd.Series([], dtype=np.float32),
                        "str": pd.Series([], dtype=object),
                    }
                )

    return kernel


def extract_occurrences(
    pages_df,
    miners: Sequence[Miner],
    *,
    no_enclosed: bool = True,
    key_col: str = "url",
    text_col: str = "text",
):
    """pages (key, text, ...) → occurrences DataFrame.

    Column-prunes to (key, text) before the kernel so the parquet scan never
    reads other columns (e.g. the ``html`` binary).
    """
    from pyspark.sql import functions as F

    schema = OCCURRENCE_SCHEMA.replace("url string", f"{key_col} string", 1)
    projected = coalesce_for_kernel(
        pages_df.select(
            F.col(key_col).cast("string").alias(key_col),
            F.col(text_col).alias("text"),
        )
    )
    kernel = _make_kernel(list(miners), no_enclosed, key_col)
    return projected.mapInPandas(kernel, schema=schema)
