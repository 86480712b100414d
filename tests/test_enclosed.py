"""Enclosed-span filter + sort parity (reference tests/enclosed.c)."""

import itertools

import numpy as np

from nativeextractor_spark.miners import GlobMiner, RegexMiner
from nativeextractor_spark.operators import enclosed_keep_mask, scan_document


def _spans(text, globs, **kw):
    miners = [GlobMiner(g) for g in globs]
    return scan_document(text, miners, **kw)


def test_single_batch():
    """enclosed.c:181-195 — 3 raw, 1 after filter."""
    raw = _spans("abc def", ["abc def", "abc", "def"], no_enclosed=False)
    assert len(raw["label"]) == 3
    filt = _spans("abc def", ["abc def", "abc", "def"], no_enclosed=True)
    assert len(filt["label"]) == 1
    assert filt["str"] == ["abc def"]


def test_multi_span():
    """enclosed.c:202-243 — 6 raw, 3 filtered (batch-size invariant; canonical
    mode scans whole documents)."""
    globs = ["abc def", "abc", "def", "def ghi", "ghi", "jkl"]
    raw = _spans("abc def ghi jkl", globs, no_enclosed=False)
    assert len(raw["label"]) == 6
    filt = _spans("abc def ghi jkl", globs, no_enclosed=True)
    assert len(filt["label"]) == 3
    assert filt["str"] == ["abc def", "def ghi", "jkl"]


def test_identical_ranges_kept():
    """enclosed.c:259-270 — identical spans with different labels both kept."""
    miners = [GlobMiner("abc", label="Glob"), RegexMiner("RX", "abc")]
    cols = scan_document("abc", miners, no_enclosed=True)
    assert len(cols["label"]) == 2
    assert sorted(cols["label"]) == ["Glob", "RX"]


def test_keep_mask_doc_example():
    """Docstring example at extractor.c:131-139."""
    #  A[0,10] B[0,4] C[5,9] D[2,9] E[3,13]
    pos = np.array([0, 0, 5, 2, 3])
    end = np.array([10, 4, 9, 9, 13])
    keep = enclosed_keep_mask(pos, end)
    assert list(keep) == [True, False, False, False, True]


def test_keep_mask_identical_spans():
    pos = np.array([0, 0, 0])
    end = np.array([3, 3, 5])
    keep = enclosed_keep_mask(pos, end)
    assert list(keep) == [False, False, True]
    # identical spans with no strict superset survive together
    keep2 = enclosed_keep_mask(np.array([1, 1]), np.array([4, 4]))
    assert list(keep2) == [True, True]


def test_sort_order_pos_then_len_asc():
    """E_SORT_RESULTS: (pos asc, len asc) — extractor.c:102-112; code wins
    over README's 'length descending'."""
    miners = [GlobMiner("abc def"), GlobMiner("abc"), GlobMiner("a*")]
    cols = scan_document("abc def", miners, no_enclosed=False)
    spans = list(zip(cols["pos"].tolist(), cols["len"].tolist()))
    assert spans == sorted(spans)


def test_sort_independent_of_miner_order():
    """The (pos, len, label) sort is always on, so the occurrence columns
    do not depend on the order the miners are listed in — with and
    without the enclosed filter, on multibyte text."""
    text = "řabc def ghi abc"
    miners = [
        GlobMiner("abc def", label="A"),
        GlobMiner("abc", label="B"),
        GlobMiner("a*", label="A"),
        GlobMiner("def ghi", label="C"),
        GlobMiner("abc", label="C"),
    ]
    for no_enclosed in (False, True):
        want = scan_document(text, miners, no_enclosed=no_enclosed)
        assert len(want["label"]) > 0
        for perm in itertools.permutations(miners):
            got = scan_document(text, list(perm), no_enclosed=no_enclosed)
            for col, vals in want.items():
                assert list(got[col]) == list(vals), (col, no_enclosed)


def test_multi_batch_golden_counts():
    """tests/enclosed.c:199-221 (multi_batch): batch=3 over
    'abc def ghi jkl' with 6 globs — 6 plain, 3 with the enclosed filter's
    cross-batch last_max pre-filter (O4 compat mode)."""
    from nativeextractor_spark.miners.glob_exact import batched_extractor_scan

    text = "abc def ghi jkl"
    globs = ["abc def", "abc", "def", "def ghi", "ghi", "jkl"]
    plain = batched_extractor_scan(text, globs, 3)
    assert sum(len(b) for b in plain) == 6
    filtered = batched_extractor_scan(text, globs, 3, no_enclosed=True)
    kept = [o for b in filtered for o in b]
    assert len(kept) == 3
    assert {(s, e) for s, e, _ in kept} == {(0, 7), (4, 11), (12, 15)}


def test_small_batch_golden_counts():
    """tests/enclosed.c:223-243 (small_batch): batch=1, same text/globs —
    6 plain, 3 filtered."""
    from nativeextractor_spark.miners.glob_exact import batched_extractor_scan

    text = "abc def ghi jkl"
    globs = ["abc def", "abc", "def", "def ghi", "ghi", "jkl"]
    assert sum(len(b) for b in batched_extractor_scan(text, globs, 1)) == 6
    kept = [
        o
        for b in batched_extractor_scan(text, globs, 1, no_enclosed=True)
        for o in b
    ]
    assert len(kept) == 3


def test_single_batch_golden_counts():
    """tests/enclosed.c:177-196 (single_batch): whole text in one batch."""
    from nativeextractor_spark.miners.glob_exact import batched_extractor_scan

    text = "abc def"
    globs = ["abc def", "abc", "def"]
    assert sum(len(b) for b in batched_extractor_scan(text, globs, 10)) == 3
    kept = [
        o
        for b in batched_extractor_scan(text, globs, 10, no_enclosed=True)
        for o in b
    ]
    assert len(kept) == 1


def test_batched_scan_matches_whole_doc_scan():
    """batch >= len(text) reduces to the per-miner whole-document scan."""
    from nativeextractor_spark.miners.glob_exact import (
        batched_extractor_scan,
        reference_glob_scan,
    )

    text = "sk skx s.k ss kk sqqk sk"
    globs = ["s*k", "s?", "sk"]
    batched = [
        (s, e, g)
        for b in batched_extractor_scan(text, globs, len(text) + 5)
        for s, e, g in b
    ]
    whole = [
        (s, e, g) for g in globs for s, e in reference_glob_scan(text, g)
    ]
    assert sorted(batched) == sorted(whole)


def test_batched_scan_rejects_nonpositive_batch():
    import pytest

    from nativeextractor_spark.miners.glob_exact import batched_extractor_scan

    with pytest.raises(ValueError, match="batch_size"):
        batched_extractor_scan("abc abc", ["abc"], 0)
