"""Line/n-gram repetition operators for web-corpus curation.

Two classic pre-training cleanup stages:

- :func:`gopher_repetition` — the repetition rules from Gopher
  (Rae et al. 2021, Table A1): duplicate-line fractions, most-frequent
  n-gram character fractions (n=2..4), duplicated n-gram character
  fractions (n=5..10). One Arrow/NumPy kernel pass per document row
  (``mapInPandas``): no shuffle, no explode, no window.
- :func:`drop_duplicate_lines` — C4-style corpus-wide span dedup
  (Raffel et al. 2020 removed all but one occurrence of repeated spans):
  every repeated LINE keeps exactly its first occurrence
  (min (doc_id, position)) across the whole corpus — the standard
  boilerplate-removal pass. It explodes lines once (it is corpus-wide by
  definition) with hash partial-agg everywhere, all JVM-side.

The DuckDB oracle rows ``gopher_repetition`` / ``gopher_repetition_span``
recompute every repetition metric independently in SQL.
"""

from __future__ import annotations

from math import floor
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nativeextractor_spark.textops import quality as q

# Gopher Table A1 thresholds
_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
_DUP_LINE_FRAC_MAX = 0.30
_DUP_LINE_CHAR_FRAC_MAX = 0.20
# the maxima in _doc_repetition_metrics' output order
_REPETITION_MAX = (
    _DUP_LINE_FRAC_MAX,
    _DUP_LINE_CHAR_FRAC_MAX,
    *[_TOP_NGRAM_MAX[n] for n in sorted(_TOP_NGRAM_MAX)],
    *[_DUP_NGRAM_MAX[n] for n in sorted(_DUP_NGRAM_MAX)],
)


def _t6f(num: int, den: int) -> float:
    """floor(num * 1e6 / den) / 1e6 in IEEE doubles (num→double, *1e6,
    /den, floor, /1e6) — the same association as the DuckDB oracles, so
    the fractions are bit-equal to theirs."""
    return floor(num * 1000000.0 / max(den, 1)) / 1000000


def _doc_repetition_metrics(text, dup_span: bool) -> tuple:
    """One document's Gopher repetition metrics (vectorized NumPy; exact
    integer gram counting).

    Lines split on ``\\n``; tokens split on every single ``[ \\n]`` char
    (empties kept); gram identity is the exact token tuple. The top gram
    is the (count, char-length) maximum — the fractions depend only on
    that pair, so ties between grams never change the output. dup metric
    per ``dup_span``: the count flavor sums count*len over duplicated
    grams; the span flavor folds the token-interval union of duplicated
    occurrences (runs merge while the next start is <= run-end start +
    n - 1, chars = covered token lengths + internal separators).
    """
    if not isinstance(text, str):
        text = ""
    n_chars = len(text)
    lines = text.split("\n")
    n_lines = len(lines)
    line_chars = 0
    dup_lines = 0
    dup_line_chars = 0
    seen: set = set()
    for ln in lines:
        ln_len = len(ln)
        line_chars += ln_len
        if ln in seen:
            dup_lines += 1
            dup_line_chars += ln_len
        else:
            seen.add(ln)
    # tokens: split on every single space/newline — the oracle's
    # regexp_split_to_array(text, '[ \n]') (empties kept, incl. trailing)
    toks = text.replace("\n", " ").split(" ")
    t = len(toks)
    tlens = np.fromiter((len(x) for x in toks), dtype=np.int64, count=t)
    pref = np.empty(t + 1, dtype=np.int64)
    pref[0] = 0
    np.cumsum(tlens, out=pref[1:])
    ids, uniques = pd.factorize(np.asarray(toks, dtype=object))
    ids = ids.astype(np.int64, copy=False)
    n_distinct = len(uniques)
    fracs: list[float] = []
    # factorized code of the gram starting at i with the current length;
    # extended one token at a time: code_{n+1}[i] = (code_n[i], ids[i+n])
    codes = ids
    for n in sorted(_TOP_NGRAM_MAX) + sorted(_DUP_NGRAM_MAX):
        g = t - n + 1
        if g <= 0:
            fracs.append(0.0)
            continue
        # extend codes to length n (codes currently length t - (n-1) + 1)
        combined = codes[:g] * n_distinct + ids[n - 1 :]
        uniq, codes = np.unique(combined, return_inverse=True)
        counts = np.bincount(codes)
        if n in _TOP_NGRAM_MAX:
            # per-gram char length (equal across a gram's occurrences):
            # covered token chars + (n-1) separators
            occ_glen = pref[n:] - pref[:g] + (n - 1)
            glen = np.empty(len(uniq), dtype=np.int64)
            glen[codes] = occ_glen
            j = int(np.lexsort((glen, counts))[-1])
            fracs.append(_t6f(int(counts[j]) * int(glen[j]), n_chars))
        elif not dup_span:
            mask = counts > 1
            if mask.any():
                occ_glen = pref[n:] - pref[:g] + (n - 1)
                glen = np.empty(len(uniq), dtype=np.int64)
                glen[codes] = occ_glen
                dup = int((counts[mask] * glen[mask]).sum())
            else:
                dup = 0
            fracs.append(_t6f(dup, n_chars))
        else:
            starts = np.flatnonzero(counts[codes] > 1)
            if starts.size == 0:
                fracs.append(0.0)
                continue
            # merge runs of duplicated starts: a new run begins when the
            # gap between consecutive starts exceeds n-1 (token-interval
            # overlap rule — adjacency does NOT merge)
            brk = np.flatnonzero(np.diff(starts) > n - 1)
            run_a = starts[np.concatenate(([0], brk + 1))]
            run_b = starts[np.concatenate((brk, [starts.size - 1]))]
            covered = int(
                (pref[run_b + n] - pref[run_a] + (run_b + n - 1 - run_a)).sum()
            )
            fracs.append(_t6f(covered, n_chars))
    return (
        _t6f(dup_lines, n_lines),
        _t6f(dup_line_chars, line_chars),
        *fracs,
    )


_WS_ASCII = None  # lazy re.compile (keeps module import cheap)
_ALPHA_RE = None
_STOPWORDS = frozenset(q.GOPHER_STOPWORDS)


def _doc_quality_pass(text) -> bool:
    """Python replica of :func:`textops.quality.gopher_quality_filters`'s
    ``gopher_pass`` — identical tokenization (ASCII ``\\s+`` split, the
    same class Java's regex uses; empties kept) and identical IEEE-double
    ratio comparisons, so the fused curation filter kernel (r8) computes
    the same keep set the JVM operator does (the standalone operator and
    its oracle query are unchanged)."""
    global _WS_ASCII, _ALPHA_RE
    if _WS_ASCII is None:
        import re

        _WS_ASCII = re.compile(r"\s+", re.ASCII)
        _ALPHA_RE = re.compile(r"[a-zA-Z]")
    if not isinstance(text, str):
        text = ""
    toks = _WS_ASCII.split(text.lower())
    n_words = len(toks)
    if not (q.GOPHER_MIN_WORDS <= n_words <= q.GOPHER_MAX_WORDS):
        return False
    den = max(n_words, 1)
    ciw = 0
    n_sym = 0
    n_alpha = 0
    n_stop = 0
    search = _ALPHA_RE.search
    for t in toks:
        ciw += len(t)
        if "#" in t or "..." in t:
            n_sym += 1
        if search(t):
            n_alpha += 1
        if t in _STOPWORDS:
            n_stop += 1
    mean_wl = ciw / den
    return (
        q.GOPHER_MIN_MEAN_WORD_LEN <= mean_wl <= q.GOPHER_MAX_MEAN_WORD_LEN
        and n_sym / den <= q.GOPHER_MAX_SYMBOL_RATIO
        and n_alpha / den >= q.GOPHER_MIN_ALPHA_RATIO
        and n_stop >= q.GOPHER_MIN_STOPWORDS
    )


def gopher_filter_keep_kernel(
    df: DataFrame, text_col: str, id_col: str, dup_flavor: str
) -> DataFrame:
    """(doc_id) rows passing BOTH the Gopher quality rules and the
    repetition rules — the curation pipeline's filter stage as ONE Arrow
    kernel pass (r8): one JVM↔Python crossing and one keep-join where the
    r5-r7 pipeline ran a separate JVM quality scan, a repetition scan,
    and an extra id join. Semantics identical by construction
    (:func:`_doc_quality_pass` + :func:`_doc_repetition_metrics`); the
    standalone operators and their oracle rows are untouched, and the
    curate oracle replays both rule sets stage-by-stage."""
    from nativeextractor_spark.operators.extract import coalesce_for_kernel

    id_type = df.schema[id_col].dataType.simpleString()
    dup_span = dup_flavor == "span"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = []
            for doc_id, text in zip(pdf["doc_id"], pdf["_text"]):
                if not _doc_quality_pass(text):
                    continue
                metrics = _doc_repetition_metrics(text, dup_span)
                if all(m <= t for m, t in zip(metrics, _REPETITION_MAX)):
                    ids.append(doc_id)
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype=object)})

    return coalesce_for_kernel(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    ).mapInPandas(kernel, schema=f"doc_id {id_type}")


def _gopher_repetition_kernel(
    df: DataFrame, text_col: str, id_col: str, dup_flavor: str
) -> DataFrame:
    """One ``mapInPandas`` pass computing :func:`_doc_repetition_metrics`
    per input row: zero shuffle, one output row per input row."""
    id_type = df.schema[id_col].dataType.simpleString()
    dup_span = dup_flavor == "span"
    metric_names = [
        "dup_line_frac",
        "dup_line_char_frac",
        *[f"top{n}gram_char_frac" for n in sorted(_TOP_NGRAM_MAX)],
        *[f"dup{n}gram_char_frac" for n in sorted(_DUP_NGRAM_MAX)],
    ]
    schema = (
        f"doc_id {id_type}, "
        + ", ".join(f"{m} double" for m in metric_names)
        + ", repetition_pass boolean"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = np.empty((len(pdf), len(metric_names)), dtype=np.float64)
            for r, text in enumerate(pdf["_text"]):
                out_rows[r] = _doc_repetition_metrics(text, dup_span)
            data = {"doc_id": pdf["doc_id"]}
            ok = np.ones(len(pdf), dtype=bool)
            for c, name in enumerate(metric_names):
                data[name] = out_rows[:, c]
                ok &= out_rows[:, c] <= _REPETITION_MAX[c]
            data["repetition_pass"] = ok
            yield pd.DataFrame(data)

    from nativeextractor_spark.operators.extract import coalesce_for_kernel

    return coalesce_for_kernel(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    ).mapInPandas(kernel, schema=schema)


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dup_flavor: str = "count",
    assume_unique: bool = False,
) -> DataFrame:
    """Per-document Gopher repetition metrics + pass flag.

    Returns ``doc_id``, the eleven fractions below, and
    ``repetition_pass`` (every fraction within its Gopher Table A1
    threshold). Lines split on ``\\n``; tokens split on every single
    ``[ \\n]`` char, empty tokens kept; NULL text counts as empty (all
    fractions 0).

    - ``dup_line_frac``: (#line occurrences beyond each line's first) /
      #lines;
    - ``dup_line_char_frac``: characters in those beyond-first line
      occurrences / characters in all lines;
    - ``top{n}gram_char_frac`` (n=2..4): count(top n-gram) * chars(top
      n-gram) / chars(text), the top gram being the (count, char-length)
      maximum — ties between grams cannot change the fraction;
    - ``dup{n}gram_char_frac`` (n=5..10), per ``dup_flavor``:

      * ``"count"`` (default) — sum over n-grams with count>1 of
        count * chars(gram) / chars(text). Overlapping occurrences are
        each counted, so this UPPER-BOUNDS the published rule (it can
        exceed 1.0) and with the paper's thresholds filters somewhat
        more aggressively (documented in curate_corpus).
      * ``"span"`` — the FAITHFUL Gopher rule (Rae et al. 2021): the
        fraction of characters covered by at least one occurrence of a
        duplicated n-gram. Every occurrence is a run of exactly n
        consecutive tokens, so the character-interval union equals the
        token-index interval union mapped back to characters (covered
        token lengths + covered separators).

    All fractions are truncated to 6 decimals with the num*1e6/den
    association.

    Duplicate input ids: the kernel is row-wise, so it emits one row per
    INPUT row. The count flavor keeps that — a recrawled id gets one row
    per copy. The span flavor first collapses each id to its min text
    (:func:`textops.spans.collapse_ids`, one shuffle), matching the span
    dedup operators; pass ``assume_unique=True`` to skip that shuffle
    when the caller guarantees unique ids (curate_corpus does). The count
    flavor ignores ``assume_unique``.

    The kernel inherits the input's partitioning (only
    ``coalesce_for_kernel`` merges tiny splits), and its CPU cost per
    byte is far above relational ops — an upstream byte-based layout
    (AQE-coalesced shuffle, one small file) serializes it. Ensure the
    input has real parallelism (curate_corpus floors it after its id
    collapse).
    """
    if dup_flavor not in ("count", "span"):
        raise ValueError(f"dup_flavor must be 'count' or 'span', got {dup_flavor!r}")
    if dup_flavor == "span" and not assume_unique:
        from nativeextractor_spark.textops.spans import collapse_ids

        df = collapse_ids(df, text_col, id_col)
    return _gopher_repetition_kernel(df, text_col, id_col, dup_flavor)


def drop_duplicate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_key: str = "hash",
) -> DataFrame:
    """C4-style corpus-wide line dedup: every line occurring more than once
    in the corpus survives ONLY at its first occurrence — min (doc_id,
    position) — all other occurrences are removed; document text is
    reassembled in original line order. Returns (doc_id, text, n_lines,
    n_removed).

    Empty lines (paragraph separators) are EXEMPT — they always survive.
    Without the exemption a single corpus-global blank line would swallow
    every other document's paragraph structure. NULL text is treated as
    empty, so every input document keeps an output row.

    Plan: posexplode lines → one groupBy(key) computing (count, first
    occurrence) with map-side partial aggregation — exempt lines are
    FILTERED OUT of the aggregate (a line's exemption depends only on the
    line itself, so no non-exempt key's result can change, and blank
    separator lines are a large share of a web corpus) → LEFT join back on
    the key (broadcast-unfriendly at corpus scale, so it shuffles once;
    exempt rows find no group and pass through) → filter + re-aggregate
    per document ordered by position. The keeper rule makes the output
    deterministic and idempotent (running it twice removes nothing new).

    ``line_key`` picks the dedup key (VERDICT r3 item 3, mirroring
    minhash's ``word_hash`` flavor):

    - ``"hash"`` (default) — key on ``xxhash64(line)``: the first-
      occurrence aggregate shuffles 8-byte keys with NO string payload at
      all, and the join compares longs instead of line text. A 64-bit
      collision (~2^-64 per distinct-line pair) would merge two distinct
      lines and drop one wrongly — the standard corpus-dedup trade.
    - ``"string"`` — key on the raw line (collision-free; the flavor an
      independent SQL engine can replay verbatim, used by the DuckDB
      oracle). Output is identical absent hash collisions.

    Measured at sf0.1 (50k pages, ~1.1M 5-token lines, local[32]): the r4
    dup-only-build-side left join cut the r3 inner-join shape ~5.6 s →
    ~1.4 s (AQE broadcasts the duplicated-lines table, so the probe side
    never shuffles), and hash keys add a further ~1.13x; the hash margin
    grows with line length (real web lines are far longer than this
    fixture's ~30 chars).
    """
    if line_key not in ("hash", "string"):
        raise ValueError(f"line_key must be 'hash' or 'string', got {line_key!r}")
    from nativeextractor_spark.operators.extract import coalesce_for_kernel

    # the exploded line rows feed two groupBys and a join — merge tiny
    # input splits first so the shuffle map sides don't pay one task
    # setup per split (bytes-capped no-op at real volumes)
    rows = coalesce_for_kernel(df).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    )
    if line_key == "hash":
        rows = rows.withColumn("_lk", F.xxhash64("line"))
        key = "_lk"
    else:
        key = "line"
    exempt = F.length("line") == 0
    # only DUPLICATED keys enter the join build side: unique lines (the
    # overwhelming majority of a real corpus) and exempt lines surface as
    # left-join misses and always survive. The build side shrinks from
    # |distinct lines| to |duplicated lines| — small enough for AQE to
    # broadcast on mildly-duplicated corpora
    firsts = (
        rows.where(~exempt)
        .groupBy(key)
        .agg(F.min(F.struct("doc_id", "pos")).alias("_first"), F.count("*").alias("_cnt"))
        .where(F.col("_cnt") > 1)
        .drop("_cnt")
    )
    # the explicit exempt disjunct is belt-and-braces under hash keys: an
    # exempt line whose xxhash64 collides with a duplicated line's key
    # would otherwise join a first-occurrence record and be dropped
    keep_cond = (
        exempt
        | F.col("_first").isNull()
        | (
            (F.col("doc_id") == F.col("_first.doc_id"))
            & (F.col("pos") == F.col("_first.pos"))
        )
    )
    # r8: ONE per-doc aggregate rebuilds text AND counts totals —
    # collect_list skips the NULL structs of removed lines, so the kept
    # filter, the rebuild, the total-line count, and the removed count all
    # come out of a single shuffle (the r4-r7 shape ran a second
    # corpus-volume groupBy for totals plus a doc-level join to combine
    # them; plan: 3 corpus shuffles -> 2). Every doc has >= 1 line row
    # (split of '' is ['']), so no left join is needed to keep empty docs.
    return (
        rows.join(firsts, key, "left")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.when(keep_cond, F.struct("pos", "line")))
                ).getField("line"),
                "\n",
            ).alias("text"),
            F.sum(keep_cond.cast("long")).alias("n_lines"),
            F.sum((~keep_cond).cast("long")).alias("n_removed"),
        )
        .select("doc_id", "text", "n_lines", "n_removed")
    )
