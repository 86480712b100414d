"""ExactSubstr span dedup (textops.spans): randomized edge cases against
a naive character-set reference, and the plan shape of the token-index
operator."""

import math
import random
import re
from collections import defaultdict

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _dup_spans_ref(docs, n):
    """Naive duplicate spans: every n-token gram occurrence is a
    character interval; occurrences of grams seen more than once (except
    the global first, min (doc_id, token index)) mark their characters; maximal runs of marked characters are the
    spans. Returns {(doc_id, span_s, span_e)}."""
    toks = {d: re.split("[ \n]", t or "") for d, t in docs}
    places = defaultdict(list)
    for d, ts in toks.items():
        for i in range(len(ts) - n + 1):
            places[tuple(ts[i : i + n])].append((d, i))
    marked = defaultdict(set)
    for g, occ in places.items():
        if len(occ) < 2:
            continue
        for d, i in occ:
            if (d, i) == min(occ):
                continue
            s = sum(len(t) + 1 for t in toks[d][:i])
            marked[d].update(range(s, s + len(" ".join(g))))
    spans = set()
    for d, cs in marked.items():
        cs = sorted(cs)
        a = cs[0]
        for p, q in zip(cs, cs[1:] + [None]):
            if q != p + 1:
                spans.add((d, a, p + 1))
                a = q
    return spans


def _random_docs():
    """Seeded corpus: tiny vocab (natural cross-doc and within-doc
    repeats), empty/null docs, newline separators and trailing
    separators (empty final tokens)."""
    rng = random.Random(23)
    vocab = [f"t{i}" for i in range(40)]
    docs = []
    for d in range(60):
        n = rng.randrange(0, 30)
        words = [vocab[rng.randrange(len(vocab))] for _ in range(n)]
        sep = lambda: "\n" if rng.random() < 0.15 else " "
        text = ""
        for j, w in enumerate(words):
            text += (sep() if j else "") + w
        if rng.random() < 0.2:
            text += " "
        docs.append((d, text if n else rng.choice([None, ""])))
    return docs


def test_span_ops_match_naive_reference_randomized(spark):
    """duplicate_spans, the stats and the removal operator equal the naive reference on a randomized corpus
    with planted cross-doc runs, within-doc repeats, empty/null docs,
    newline separators and trailing separators (empty final tokens)."""
    from nativeextractor_spark.textops.spans import (
        duplicate_span_stats,
        duplicate_spans,
        remove_duplicate_spans,
    )

    docs = _random_docs()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = duplicate_spans(df, n_tokens=3)
    assert set(map(tuple, got.collect())) == _dup_spans_ref(docs, 3)
    spans = defaultdict(list)
    for d, s, e in _dup_spans_ref(docs, 3):
        spans[d].append((s, e))
    want_stats, want_text = [], []
    for d, t in docs:
        t = t or ""
        cov = sum(e - s for s, e in spans[d])
        frac = math.floor(cov * 1000000.0 / max(len(t), 1)) / 1000000
        want_stats.append((d, len(t), len(spans[d]), cov, frac))
        kept = "".join(c for p, c in enumerate(t) if not any(
            s <= p < e for s, e in spans[d]))
        want_text.append((d, kept, len(t) - len(kept)))
    got_stats = duplicate_span_stats(df, n_tokens=3).collect()
    assert sorted(map(tuple, got_stats)) == sorted(want_stats)
    got_text = remove_duplicate_spans(df, n_tokens=3).collect()
    assert sorted(map(tuple, got_text)) == sorted(want_text)


def test_span_plan_has_no_token_window(spark):
    """Char offsets come from per-row slice-sums: the r4 shape's
    per-token offset machinery (posexplode + Window over token rows +
    full-corpus offset join) must be absent from the plan, leaving the
    gram count as the only corpus-volume shuffle."""
    from nativeextractor_spark.textops.spans import duplicate_spans

    df = spark.createDataFrame(
        [(i, "a b c d e f g h a b c d e f g h") for i in range(10)],
        "doc_id long, text string",
    )
    plan = _plan(duplicate_spans(df, n_tokens=4))
    assert "Window" not in plan, plan
    assert "posexplode" not in plan, plan


@pytest.mark.parametrize("branch", ["single", "two_phase"])
def test_span_count_branches_match_naive_reference(spark, monkeypatch, branch):
    """The size-gated gram count: the single combined aggregate (small
    token frames) and the two-phase count with the staged duplicated
    slice (large or unknown size stats) both equal the naive reference.
    The threshold is forced each way so both branches run here on a
    small frame; the staging call shows which one ran."""
    from nativeextractor_spark import staging
    from nativeextractor_spark.textops import spans

    threshold = 1 << 80 if branch == "single" else 0
    monkeypatch.setattr(spans, "_TWO_PHASE_MIN_BYTES", threshold)
    staged = []
    real_stage = staging.stage

    def spy(name="stage"):
        staged.append(name)
        return real_stage(name)

    monkeypatch.setattr(staging, "stage", spy)
    docs = _random_docs()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = spans.duplicate_spans(df, n_tokens=3)
    assert set(map(tuple, got.collect())) == _dup_spans_ref(docs, 3)
    assert ("spans-dup" in staged) == (branch == "two_phase"), staged
