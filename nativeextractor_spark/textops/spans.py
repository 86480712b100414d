"""Corpus-wide exact duplicate-SPAN detection and removal.

The ExactSubstr idea from "Deduplicating Training Data Makes Language
Models Better" (Lee et al. 2022): substrings repeated ANYWHERE in the
corpus (across documents or within one) are training-data duplication
even when whole documents differ, and should be removed all-but-once.
Lee et al. build a global suffix array; the Spark-native analogue here
works at token granularity (tokens split on every single ``[ \\n]``
char, empties kept), entirely in TOKEN-INDEX space per row:

1. every ``n_tokens``-gram of every document becomes one occurrence row
   ``(doc_id, gk, i)`` — ``i`` the 1-based start-token index;
2. one CORPUS-WIDE count per gram key finds grams occurring more than
   once; only those (a small fraction of distinct grams) meet the
   occurrence rows again, with the gram's global first occurrence
   (min (doc_id, i)) riding along;
3. every occurrence EXCEPT the global first is removal-eligible — the
   idempotent all-but-one rule (re-running on the cleaned corpus removes
   nothing new);
4. per document, eligible occurrences (tokens ``[i, i+n-1]``) are merged
   into maximal token intervals. Two occurrences' character intervals
   overlap exactly when their token runs do (adjacency leaves the
   separator uncovered in both spaces), so merging needs no character
   offsets. Any duplicated substring of >= n_tokens tokens is covered,
   because it contains at least one aligned full n-gram that is itself
   duplicated;
5. character offsets are computed ONLY for the merged intervals, per
   row, by disjoint slice-sums over the token-length array (O(tokens)
   per doc).

Scale shape: the only corpus-volume shuffle is the gram count, on 8-byte
xxhash64 gram keys (see :func:`_occ_token_index`). Above
``_TWO_PHASE_MIN_BYTES`` of token frame the count carries keys only and
the first-occurrence payload moves to the staged duplicated slice (see
:func:`_eligible_starts`). Everything else is a
per-doc projection or a dup-only-volume aggregate — no per-row Python.
The DuckDB oracle rows ``dup_span_stats`` / ``dup_span_removal`` replay
the operators independently in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the two-phase gram count pays an extra barrier job and a second corpus
# pass to keep the first-occurrence payload out of the count shuffle; it
# wins only above this token-frame size (measured on 32 cores: slower
# at sf0.1, dup_span_stats 21.6 -> 14.5 s at sf1)
_TWO_PHASE_MIN_BYTES = 32 << 20


def collapse_ids(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per id: duplicate ids (recrawls) collapse to their min
    text — the deterministic rule curate_corpus uses. Without this, the
    doc-keyed joins below would multiply rows and a doc's spans would mix
    both copies' token positions (r4 review)."""
    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(id_col)
        .agg(F.min(text_col).alias(text_col))
    )


def _base_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, _toks, _tlens) — the narrow per-doc token frame: no
    offsets, no window, no join."""
    from nativeextractor_spark.operators.extract import coalesce_for_kernel

    df = coalesce_for_kernel(df)
    text = F.coalesce(F.col(text_col), F.lit(""))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.split(text, "[ \n]").alias("_toks"),
    ).withColumn("_tlens", F.expr("transform(_toks, t -> length(t))"))


def _occ_token_index(base: DataFrame, n: int) -> DataFrame:
    """(doc_id, gk, i): one row per n-gram occurrence, ``i`` the 1-based
    start-token index. The sequence pads to >= 1 entry even when the doc
    has fewer than n tokens (``sequence(1, 0)`` would count DOWN); the
    outer slice trims the pad.

    Gram identity (r8) is an xxhash64 COMBINE of the n member token
    hashes (each token hashed once per doc) — the ``word_hash`` trick
    from textops.dedup — so the count shuffles 8-byte keys and no slice
    is allocated per gram. gk never leaves this computation (the global
    count and the eligibility join both consume this frame), so output
    differs from keying on the gram text only under 64-bit collisions;
    the DuckDB oracle rows key on the text and pin that."""
    combine = ", ".join(f"try_element_at(_th, i + {j})" for j in range(n))
    arr = (
        f"slice(transform(sequence(1, greatest(size(_toks) - {n - 1}, 1)),"
        f" i -> struct(xxhash64({combine}) AS gk, i AS i)),"
        f" 1, greatest(size(_toks) - {n - 1}, 0))"
    )
    return (
        base.withColumn("_th", F.expr("transform(_toks, t -> xxhash64(t))"))
        .select("doc_id", F.explode(F.expr(arr)).alias("_g"))
        .select("doc_id", F.col("_g.gk").alias("gk"), F.col("_g.i").alias("i"))
    )


def _eligible_starts(base: DataFrame, n_tokens: int) -> DataFrame:
    """(doc_id, i) removal-eligible occurrence start tokens: global
    duplicate determination in token space (min (doc_id, i) is the
    global first — within a doc the char offset is strictly increasing
    in i, so this is also the first occurrence in character order)."""
    from nativeextractor_spark.staging import stage

    occ = _occ_token_index(base, n_tokens)
    # two-phase count (size-gated): above the threshold the count
    # shuffle carries ONLY (gk, partial count) — 16 bytes per gram after
    # map-side combine — and the global-first min(struct(doc_id, i))
    # payload moves to the dup-only slice (staged once — the same
    # bounded-build-side class as the LSH band table), which feeds both
    # the firsts aggregate and the eligibility join (shuffle keys and
    # metadata, not payloads). Below the threshold the single combined
    # aggregate stays. Gate input: Catalyst's optimized-plan size stat
    # for the token frame; unknown stats (~2^63) resolve to two-phase,
    # the scale-safe side.
    try:
        base_bytes = int(
            base._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        base_bytes = _TWO_PHASE_MIN_BYTES  # unknown: assume large (scale-safe)
    if base_bytes < _TWO_PHASE_MIN_BYTES:
        dup = (
            occ.groupBy("gk")
            .agg(
                F.count("*").alias("_c"),
                F.min(F.struct("doc_id", "i")).alias("_first"),
            )
            .where(F.col("_c") > 1)
            .select("gk", "_first")
        )
        elig = occ.join(dup, "gk")
    else:
        dup_gks = (
            occ.groupBy("gk")
            .agg(F.count("*").alias("_c"))
            .where(F.col("_c") > 1)
            .select("gk")
        )
        occ_dup = occ.join(dup_gks, "gk").transform(stage("spans-dup"))
        dup = occ_dup.groupBy("gk").agg(
            F.min(F.struct("doc_id", "i")).alias("_first")
        )
        elig = occ_dup.join(dup, "gk")
    return elig.where(
        ~(
            (F.col("doc_id") == F.col("_first.doc_id"))
            & (F.col("i") == F.col("_first.i"))
        )
    ).select("doc_id", "i")


def _merge_intervals_expr(n: int) -> str:
    """SQL fold merging a doc's sorted eligible start-token indexes
    ``_is`` into maximal token intervals ``array<struct<a, b>>``: a new
    start i extends the open interval when i <= current b (token-run
    overlap — adjacency does NOT merge, matching char-space semantics
    where the separator between stays uncovered)."""
    b = n - 1
    close = "concat(acc.out, array(struct(acc.ca AS a, acc.cb AS b)))"
    return (
        "aggregate(_is,"
        " struct(cast(array() as array<struct<a: int, b: int>>) AS out,"
        "        -1 AS ca, -1 AS cb),"
        " (acc, i) -> CASE"
        f"   WHEN acc.ca < 0 THEN struct(acc.out AS out, i AS ca, i + {b} AS cb)"
        f"   WHEN i <= acc.cb THEN struct(acc.out AS out, acc.ca AS ca, i + {b} AS cb)"
        f"   ELSE struct({close} AS out, i AS ca, i + {b} AS cb) END,"
        " acc -> CASE WHEN acc.ca < 0 THEN acc.out"
        f" ELSE {close} END)"
    )


# token intervals -> per-interval (gap, span) char lengths: each
# interval's own tokens and the gap tokens since the previous interval
# are slice-summed ONCE (zip_with against the shifted interval array),
# so the whole conversion is O(tokens) per doc. Separator accounting:
# tokens p.b+1 .. v.a-1 sit in the gap along with (v.a - p.b) single-char
# separators; tokens v.a .. v.b carry (v.b - v.a) internal separators.
_GAP_SPAN_EXPR = (
    "CASE WHEN size(_ivl) = 0"
    " THEN cast(array() as array<struct<gap: bigint, span: bigint>>)"
    " ELSE zip_with(_ivl,"
    "   concat(array(struct(0 AS a, 0 AS b)), slice(_ivl, 1, size(_ivl) - 1)),"
    "   (v, p) -> struct("
    "     aggregate(slice(_tlens, p.b + 1, v.a - 1 - p.b), cast(0 as bigint),"
    "       (x, t) -> x + t) + (v.a - p.b) AS gap,"
    "     aggregate(slice(_tlens, v.a, v.b - v.a + 1), cast(0 as bigint),"
    "       (x, t) -> x + t) + (v.b - v.a) AS span)) END"
)

# absolute char spans from the (gap, span) deltas: one scalar fold. The
# -1 init absorbs the first interval's off-by-one (a - pb counts one
# separator too many when pb is the virtual token 0).
_ABS_SPANS_EXPR = (
    "aggregate(" + _GAP_SPAN_EXPR + ","
    " struct(cast(array() as array<struct<span_s: bigint, span_e: bigint>>) AS out,"
    "        cast(-1 as bigint) AS pe),"
    " (acc, g) -> struct("
    "   concat(acc.out, array(struct(acc.pe + g.gap AS span_s,"
    "     acc.pe + g.gap + g.span AS span_e))) AS out,"
    "   acc.pe + g.gap + g.span AS pe),"
    " acc -> acc.out)"
)


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_tokens: int = 8,
    assume_unique: bool = False,
) -> DataFrame:
    """Per-document maximal duplicate spans: (doc_id, span_s, span_e),
    one row per merged span of removal-eligible duplicated-gram
    occurrences (see module docstring). Documents with no duplicate spans
    emit no rows. Duplicate input ids are collapsed upfront
    (:func:`collapse_ids`); pass ``assume_unique=True`` to skip that
    shuffle when the caller guarantees uniqueness."""
    if not assume_unique:
        df = collapse_ids(df, text_col, id_col)
    base = _base_tokens(df, text_col, id_col)
    elig = _eligible_starts(base, n_tokens)
    merged = (
        elig.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("i")).alias("_is"))
        .select(
            "doc_id", F.expr(_merge_intervals_expr(n_tokens)).alias("_ivl")
        )
    )
    return (
        merged.join(base.select("doc_id", "_tlens"), "doc_id")
        .select("doc_id", F.explode(F.expr(_ABS_SPANS_EXPR)).alias("_sp"))
        .select(
            "doc_id",
            F.col("_sp.span_s").alias("span_s"),
            F.col("_sp.span_e").alias("span_e"),
        )
    )


def duplicate_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_tokens: int = 8,
    assume_unique: bool = False,
) -> DataFrame:
    """(doc_id, n_chars, n_dup_spans, dup_span_chars, dup_span_frac) for
    EVERY input document (zero-valued stats for clean docs). The fraction is
    truncated to 6 decimals with the num*1e6/den association. Duplicate
    input ids are collapsed upfront (see :func:`collapse_ids`)."""
    if not assume_unique:
        df = collapse_ids(df, text_col, id_col)
    spans = duplicate_spans(df, text_col, id_col, n_tokens, assume_unique=True)
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("span_e") - F.col("span_s")).alias("dup_span_chars"),
    )
    docs = df.select(
        F.col(id_col).alias("doc_id"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("n_chars"),
    )
    return docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("dup_span_chars", F.lit(0))
        .cast("long")
        .alias("dup_span_chars"),
        (
            F.floor(
                F.coalesce("dup_span_chars", F.lit(0))
                * 1000000.0
                / F.greatest("n_chars", F.lit(1))
            )
            / 1000000
        ).alias("dup_span_frac"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_tokens: int = 8,
    assume_unique: bool = False,
) -> DataFrame:
    """(doc_id, text, n_removed_chars): documents with their duplicate
    spans spliced out (all-but-first-occurrence, Lee et al. style). The
    splice is a pure-SQL fold over the per-doc sorted merged spans —
    kept text is the concatenation of the complement segments. Idempotent.
    Duplicate input ids are collapsed upfront (see
    :func:`collapse_ids`)."""
    if not assume_unique:
        df = collapse_ids(df, text_col, id_col)
    spans = duplicate_spans(df, text_col, id_col, n_tokens, assume_unique=True)
    agg = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("span_s", "span_e"))).alias(
            "_spans"
        )
    )
    docs = df.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_text"),
    )
    # fold: walk the sorted spans, keep [pos, span_s), jump pos to span_e;
    # finish with the tail [pos, end). substring() is 1-based.
    spliced = F.expr(
        "aggregate(_spans,"
        " struct(0L AS pos, '' AS acc),"
        " (a, x) -> struct(x.span_e,"
        "   concat(a.acc, substring(_text, a.pos + 1, x.span_s - a.pos))),"
        " a -> concat(a.acc, substring(_text, a.pos + 1,"
        "   length(_text) - a.pos)))"
    )
    return (
        docs.join(agg, "doc_id", "left")
        .withColumn(
            "text",
            F.when(F.col("_spans").isNull(), F.col("_text")).otherwise(spliced),
        )
        .select(
            "doc_id",
            "text",
            (F.length("_text") - F.length("text")).alias("n_removed_chars"),
        )
    )
