"""Text analysis operators: language-ID, quality scoring, token counts,
document fingerprinting. All JVM-side expressions (WSCG) except where noted —
these run as full-corpus map passes at 100 TB, so no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny deterministic stopword profiles (n-gram heuristic, public knowledge)
_LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "you", "that", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las"],
    "de": ["der", "die", "und", "das", "nicht", "mit", "ist", "ein", "zu"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "que", "pour"],
    "cs": ["je", "se", "na", "to", "že", "by", "ale", "jako", "pro"],
}


def _tokens(text_col: str):
    return F.split(F.lower(F.col(text_col)), r"\s+")


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-profile language ID. Returns (doc_id, lang_pred, lang_score).

    Score per language = fraction of tokens in the language's stopword list;
    argmax wins, ties broken by language code order. Pure SQL expressions —
    oracle-reproducible.
    """
    toks = _tokens(text_col)
    scores = []
    for lang, words in sorted(_LANG_STOPWORDS.items()):
        arr = F.array(*[F.lit(w) for w in words])
        score = (
            F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
            / F.greatest(F.size(toks), F.lit(1))
        )
        scores.append(F.struct(score.alias("s"), F.lit(lang).alias("l")))
    best = F.array_max(F.array(*scores))
    return df.select(
        F.col(id_col).alias("doc_id"),
        best["l"].alias("lang_pred"),
        F.round(best["s"], 6).alias("lang_score"),
    )


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document quality: length, punctuation ratio, stopword ratio,
    mean word length, and a composite score. Pure SQL expressions."""
    toks = _tokens(text_col)
    n_chars = F.length(F.col(text_col))
    n_punct = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"[^\w\s]", "")
    )
    en = F.array(*[F.lit(w) for w in _LANG_STOPWORDS["en"]])
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(en, t))) / F.greatest(
        F.size(toks), F.lit(1)
    )
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    mean_word_len = n_chars / F.greatest(F.size(toks), F.lit(1))
    composite = (
        F.least(n_chars / F.lit(500.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.3
    )
    # floor-based truncation to 6dp: identical on any engine computing the
    # same doubles (round() half-up vs half-even differs across engines)
    def t6(c):
        return F.floor(c * 1000000) / 1000000

    return df.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        t6(punct_ratio).alias("punct_ratio"),
        t6(stop_ratio).alias("stopword_ratio"),
        t6(mean_word_len).alias("mean_word_len"),
        t6(composite).alias("quality_score"),
    )


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens + BPE-ish subword piece count (regex split on
    non-alnum boundaries — a cheap proxy for tokenizer budget planning)."""
    ws = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    pieces = F.size(
        F.filter(
            F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
            lambda t: F.length(t) > 0,
        )
    ) + F.size(
        F.filter(
            F.split(F.col(text_col), r"[a-zA-Z0-9\s]+"), lambda t: F.length(t) > 0
        )
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        ws.alias("ws_tokens"),
        pieces.alias("subword_pieces"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalized lowercased text
    (oracle-reproducible) + xxhash64 (cheap 64-bit flavor for joins)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(norm).alias("fp_md5"),
        F.xxhash64(norm).alias("fp_xx64"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    rolling-hash technique): hash every k-char gram of the normalized text,
    then keep the minimum hash of each ``window`` consecutive grams — any
    shared substring of length >= k + window - 1 between two documents is
    GUARANTEED to share a selected fingerprint.

    Engine-portable hash ordering: the per-gram hash is the first 16 hex
    chars of md5 — fixed-width lowercase hex, so lexicographic MIN equals
    numeric MIN of the unsigned value in Spark and DuckDB alike. Everything
    is JVM expressions (transform/slice/array_min); returns distinct
    (doc_id, fp) rows.
    """
    norm = f"regexp_replace(trim(lower({text_col})), '\\\\s+', ' ')"
    grams = (
        f"transform(sequence(1, greatest(length({norm}) - {k - 1}, 1)),"
        f" i -> substring(md5(substring({norm}, i, {k})), 1, 16))"
    )
    mins = (
        f"array_distinct(transform("
        f"sequence(1, greatest(size({grams}) - {window - 1}, 1)),"
        f" i -> array_min(slice({grams}, i, {window}))))"
    )
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(F.expr(mins)).alias("fp")
    ).distinct()


# Gopher quality rule values, read by gopher_quality_filters and by the
# fused curation kernel's lines._doc_quality_pass
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100000
GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN = 3, 10
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPWORDS = 2


def gopher_quality_filters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, public) as
    boolean flags + overall pass — the standard pre-training web filter set.
    Pure SQL expressions (whole-stage codegen).

    Rules: word count in [50, 100k]; mean word length in [3, 10]; symbol-
    to-word ratio (# or ellipsis) <= 0.1; >=80% of words contain an
    alphabetic char; >=2 common-English stopwords present. NULL text
    counts as empty (one empty word, fails), as in the fused curation
    kernel's ``lines._doc_quality_pass``.
    """
    toks = F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    n_words = F.size(toks)
    n_chars_in_words = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    mean_wl = n_chars_in_words / F.greatest(n_words, F.lit(1))
    n_symbols = F.size(
        F.filter(toks, lambda t: t.contains("#") | t.contains("..."))
    )
    sym_ratio = n_symbols / F.greatest(n_words, F.lit(1))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    alpha_ratio = n_alpha / F.greatest(n_words, F.lit(1))
    stops = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))

    def t6_ratio(num, den):
        # floor(num * 1e6 / den): the SAME association the DuckDB oracle
        # uses — floor((num/den) * 1e6) can differ by one ulp at floor
        # boundaries, so both sides must associate identically
        return F.floor(num * 1000000.0 / den) / 1000000

    den = F.greatest(n_words, F.lit(1))
    ok_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    ok_mwl = (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN) & (
        mean_wl <= GOPHER_MAX_MEAN_WORD_LEN
    )
    ok_sym = sym_ratio <= GOPHER_MAX_SYMBOL_RATIO
    ok_alpha = alpha_ratio >= GOPHER_MIN_ALPHA_RATIO
    ok_stop = n_stop >= GOPHER_MIN_STOPWORDS
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        t6_ratio(n_chars_in_words, den).alias("mean_word_len"),
        t6_ratio(n_symbols, den).alias("symbol_ratio"),
        t6_ratio(n_alpha, den).alias("alpha_word_ratio"),
        n_stop.alias("n_stopwords"),
        ok_words.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_mwl & ok_sym & ok_alpha & ok_stop).alias("gopher_pass"),
    )
