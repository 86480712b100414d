"""Training-data ops: dedup, similarity, quality, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from nativeextractor_spark.textops import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    dedup_exact,
    fingerprint,
    language_id,
    lsh_duplicate_pairs,
    minhash_bands,
    ngram_jaccard_pairs,
    quality_scores,
    simhash,
    token_counts,
)
from nativeextractor_spark.textops.multimodal import (
    DecoderUnavailable,
    build_media_df,
    extract_features,
    sample_frames,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat today"),  # near dup
        (3, "completely different content with unique words here"),
        (4, "el gato y el perro en la casa de los vecinos"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(spark, docs):
    out = dedup_exact(docs).collect()
    groups = {r.doc_id: r.group_size for r in out}
    assert groups[0] == 2  # docs 0 and 1 collapse, min id survives
    assert 1 not in groups
    assert groups[3] == 1


def test_lsh_finds_exact_dups(spark, docs):
    pairs = lsh_duplicate_pairs(docs, num_hashes=6, min_shared_bands=3).collect()
    assert any((p.doc_a, p.doc_b) == (0, 1) for p in pairs)


def test_lsh_xx64_flavor(spark, docs):
    pairs = lsh_duplicate_pairs(
        docs, num_hashes=6, min_shared_bands=3, hash_flavor="xx64"
    ).collect()
    assert any((p.doc_a, p.doc_b) == (0, 1) for p in pairs)
    import pytest as _pt

    with _pt.raises(ValueError):
        lsh_duplicate_pairs(docs, hash_flavor="crc")


def test_lsh_word_shingles(spark, docs):
    """Corpus-scale flavor: word 3-shingles (token-hash combine) find exact
    dups and the near-dup (shares most word trigrams), and reject the
    unrelated doc."""
    pairs = lsh_duplicate_pairs(
        docs, num_hashes=6, k=3, min_shared_bands=3,
        hash_flavor="xx64", shingle="word_hash",
    ).collect()
    got = {(p.doc_a, p.doc_b) for p in pairs}
    assert (0, 1) in got
    assert (0, 3) not in got and (1, 3) not in got
    import pytest as _pt

    with _pt.raises(ValueError):
        lsh_duplicate_pairs(docs, shingle="sentence")


def test_ngram_jaccard(spark, docs):
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    by_pair = {(p.doc_a, p.doc_b): p.jaccard for p in pairs}
    assert by_pair[(0, 1)] == 1.0
    assert (0, 3) not in by_pair
    near = by_pair.get((0, 2))
    assert near is not None and 0.5 <= near < 1.0


def test_ngram_jaccard_matches_naive_reference(spark):
    """ngram_jaccard_pairs keys on the gram text: pairs and Jaccard values
    equal a naive set computation on a randomized corpus with space runs,
    trailing spaces, docs shorter than n, a NULL doc, and grams
    stop-listed by max_token_freq."""
    import random
    from collections import defaultdict

    rng = random.Random(17)
    vocab = ["a", "b", "c", "dd", "e", "ff"]
    rows = [(0, None), (1, "a b"), (2, "a b")]
    for i in range(3, 30):
        toks = [rng.choice(vocab) for _ in range(rng.randint(1, 10))]
        text = " ".join(toks)
        if rng.random() < 0.2:
            text = text.replace(" ", "  ", 1)
        if rng.random() < 0.2:
            text += " "
        rows.append((i, text))
    n, threshold, max_freq = 2, 0.3, 3

    grams = {}
    for d, t in rows:
        if t is None:
            continue
        toks = t.lower().split(" ")
        grams[d] = {
            " ".join(toks[i : i + n])
            for i in range(max(len(toks) - n + 1, 1))
        }
    freq = defaultdict(int)
    for gs in grams.values():
        for g in gs:
            freq[g] += 1
    kept = {d: {g for g in gs if freq[g] <= max_freq} for d, gs in grams.items()}
    want = {}
    for a in kept:
        for b in kept:
            inter = len(kept[a] & kept[b])
            if a < b and inter:
                j = inter / (len(kept[a]) + len(kept[b]) - inter)
                if j >= threshold:
                    want[(a, b)] = j

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, n=n, threshold=threshold, max_token_freq=max_freq
        ).collect()
    }
    assert want and got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) <= 1e-6 for k in want)
    assert any(freq[g] > max_freq for g in freq)  # the stop-list is exercised


def test_simhash_deterministic_and_similar(spark):
    # simhash needs enough tokens for the similarity property to be stable
    base = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(55)) + " a b c d e"
    far = " ".join(f"other{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    a = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    b = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert a == b
    assert a[0] == a[1]
    ham_near = bin((a[0] ^ a[2]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((a[0] ^ a[3]) & ((1 << 64) - 1)).count("1")
    assert ham_near < ham_far


def test_cosine_topk_bruteforce(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    q = vecs.where("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = cosine_topk_bruteforce(vecs, q, k=3).orderBy("rank").collect()
    assert [r.vec_id for r in got] == [0, 1, 2]
    assert got[0].cosine == 1.0


def test_cosine_lsh_recovers_identical_bucket(spark):
    rng = np.random.RandomState(0)
    base = rng.standard_normal(64).astype("float32")
    rows = [(0, base.tolist()), (1, (base + 0.01).tolist())] + [
        (i, rng.standard_normal(64).astype("float32").tolist()) for i in range(2, 30)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = vecs.where("vec_id = 0").select(F.col("vec_id").alias("query_id"), "embedding")
    got = cosine_topk_lsh(vecs, q, k=2, n_planes=4, dim=64).orderBy("rank").collect()
    assert [r.vec_id for r in got[:2]] == [0, 1]


def test_language_id(spark, docs):
    out = {r.doc_id: r.lang_pred for r in language_id(docs).collect()}
    assert out[0] == "en"
    assert out[4] == "es"


def test_quality_scores(spark, docs):
    out = {r.doc_id: r for r in quality_scores(docs).collect()}
    assert out[0].n_tokens == 9
    assert out[0].stopword_ratio > 0
    assert 0 <= out[0].quality_score <= 1


def test_token_counts_and_fingerprint(spark, docs):
    tc = {r.doc_id: r for r in token_counts(docs).collect()}
    assert tc[0].ws_tokens == 9
    fp = {r.doc_id: r for r in fingerprint(docs).collect()}
    assert fp[0].fp_md5 == fp[1].fp_md5
    assert fp[0].fp_md5 != fp[3].fp_md5
    assert fp[0].fp_xx64 == fp[1].fp_xx64


def test_multimodal_features_plumbing(spark):
    media = build_media_df(spark, n=12)
    feats = extract_features(media, dim=8).collect()
    assert len(feats) == 12
    for r in feats:
        assert len(r.feature) == 8 and r.n_bytes > 0
    # deterministic across runs
    again = extract_features(build_media_df(spark, n=12), dim=8).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, again))


def test_multimodal_real_decoder_gated(spark):
    media = build_media_df(spark, n=3).where("kind = 'image'")
    with pytest.raises(Exception) as exc_info:
        extract_features(media, use_real_decoder=True).collect()
    assert "DecoderUnavailable" in str(exc_info.value) or "decode" in str(
        exc_info.value
    )


def test_sample_frames(spark):
    media = build_media_df(spark, n=9)
    frames = sample_frames(media, every_ms=1000, max_frames=3).collect()
    vids = media.where("kind = 'video'").count()
    assert len(frames) == vids * 3
    assert all(f.ts_ms % 1000 == 0 for f in frames)


def test_word_shingles_whitespace_invariant(spark):
    """Word shingles split on the whitespace class with empties dropped, so
    tabs/newlines/space-runs produce identical signatures (ADVICE r1)."""
    variants = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps"),
            (1, "the quick\nbrown  fox\tjumps"),
        ],
        "doc_id long, text string",
    )
    rows = minhash_bands(
        variants, shingle="word_hash", hash_flavor="xx64", k=3
    ).collect()
    sig = {}
    for r in rows:
        sig.setdefault(r.doc_id, {})[r.band] = r.min_hash
    assert sig[0] == sig[1]


def test_simhash_duplicate_pairs_pigeonhole_exact(spark):
    """Chunk blocking must find EVERY pair with hamming <= max_hamming
    (pigeonhole: <4 differing bits can't touch all 4 chunks) — verified
    against the all-pairs computation."""
    from itertools import combinations

    from nativeextractor_spark.textops import simhash, simhash_duplicate_pairs

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup
        (3, "completely different text with other words entirely"),
        (4, "the quick brown fox leaps over the lazy dog"),  # near dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_duplicate_pairs(df, max_hamming=3).collect()
    }
    sigs = {r.doc_id: r.simhash for r in simhash(df).collect()}
    want = {
        (a, b, bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1"))
        for a, b in combinations(sorted(sigs), 2)
        if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 3
    }
    assert got == want
    assert (0, 1, 0) in got  # exact dup at hamming 0

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_duplicate_pairs(df, max_hamming=4, n_chunks=4)


def test_embedding_duplicate_pairs(spark):
    """Near-identical vectors land in the same sign bucket and pass the
    cosine verify; orthogonal vectors never pair."""
    from nativeextractor_spark.textops.similarity import embedding_duplicate_pairs

    rng = np.random.RandomState(1)
    base = rng.standard_normal(64).astype("float32")
    rows = [(0, base.tolist()), (1, (base * 1.001 + 0.0005).tolist())] + [
        (i, rng.standard_normal(64).astype("float32").tolist())
        for i in range(2, 40)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_duplicate_pairs(vecs, threshold=0.95).collect()
    }
    assert (0, 1) in got and got[(0, 1)] > 0.999
    assert all(a == 0 and b == 1 for a, b in got)  # no spurious pairs at 0.95


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: docs sharing a substring of length >= k+w-1
    (here 8) share at least one selected fingerprint; disjoint docs don't."""
    from nativeextractor_spark.textops.quality import winnow_fingerprints

    rows = [
        (0, "aaaa sharedrun bbbb"),
        (1, "cccc sharedrun dddd"),  # shares "sharedrun" (9 >= 5+4-1)
        (2, "zzzz qqqq wwww eeee"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {}
    for r in winnow_fingerprints(df, k=5, window=4).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[0] & fps[1]
    assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])


def test_gopher_filters_rules(spark):
    """Each Gopher rule must trip on its adversarial document."""
    from nativeextractor_spark.textops.quality import gopher_quality_filters

    long_good = "the cat sat with the dog and that was good to see " * 8
    rows = [
        (0, long_good),  # passes everything
        (1, "too short to pass the word count rule"),  # < 50 words
        (2, " ".join(["a"] * 60)),  # mean word length < 3, no stopwords
        (3, " ".join(["###"] * 30 + ["the", "of", "and"] + ["word"] * 30)),
        (4, " ".join(["123"] * 60 + ["the", "of"])),  # alpha ratio < 0.8
        (5, None),  # NULL text counts as empty
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_quality_filters(df).collect()}
    assert out[0].gopher_pass
    assert not out[1].ok_word_count
    assert not out[2].ok_mean_word_len and not out[2].ok_stopwords
    assert not out[3].ok_symbol_ratio
    assert not out[4].ok_alpha_words
    assert all(out[i].gopher_pass is False for i in (1, 2, 3, 4, 5, 6))
    assert out[5][1:] == out[6][1:] and out[6].n_words == 1


def test_gopher_rule_bounds_agree_across_kernels(spark):
    """gopher_quality_filters and the fused kernel's _doc_quality_pass
    read the same named rule values: each bound passes exactly at its
    value and fails one step past it, identically in both."""
    from nativeextractor_spark.textops import quality as q
    from nativeextractor_spark.textops.lines import _doc_quality_pass
    from nativeextractor_spark.textops.quality import gopher_quality_filters

    stops = list(q.GOPHER_STOPWORDS[: q.GOPHER_MIN_STOPWORDS])
    ls = sum(map(len, stops))
    fill = 60 - len(stops)  # 60 words per ratio/length probe

    def doc(*parts):
        return " ".join(t for p in parts for t in p)

    lo, hi = q.GOPHER_MIN_MEAN_WORD_LEN, q.GOPHER_MAX_MEAN_WORD_LEN
    n_sym = round(60 * q.GOPHER_MAX_SYMBOL_RATIO)
    n_num = 60 - round(60 * q.GOPHER_MIN_ALPHA_RATIO)
    cases = [
        (doc(stops, ["word"] * (q.GOPHER_MIN_WORDS - len(stops))), True),
        (doc(stops, ["word"] * (q.GOPHER_MIN_WORDS - len(stops) - 1)), False),
        (doc(stops[:-1], ["word"] * (q.GOPHER_MIN_WORDS - len(stops) + 1)), False),
        # mean word length exactly at each bound, then one char past it
        (doc(stops, ["x" * hi] * (fill - 1), ["y" * (hi * 60 - ls - hi * (fill - 1))]), True),
        (doc(stops, ["x" * hi] * (fill - 1), ["y" * (hi * 60 - ls - hi * (fill - 1) + 1)]), False),
        (doc(stops, ["x" * lo] * (fill - 1), ["y" * (lo * 60 - ls - lo * (fill - 1))]), True),
        (doc(stops, ["x" * lo] * (fill - 1), ["y" * (lo * 60 - ls - lo * (fill - 1) - 1)]), False),
        # symbol and alpha ratios exactly at the limit, then one token past
        (doc(stops, ["#abc"] * n_sym, ["word"] * (fill - n_sym)), True),
        (doc(stops, ["#abc"] * (n_sym + 1), ["word"] * (fill - n_sym - 1)), False),
        (doc(stops, ["1234"] * n_num, ["word"] * (fill - n_num)), True),
        (doc(stops, ["1234"] * (n_num + 1), ["word"] * (fill - n_num - 1)), False),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "doc_id long, text string"
    )
    got = {r.doc_id: r.gopher_pass for r in gopher_quality_filters(df).collect()}
    for i, (text, want) in enumerate(cases):
        assert got[i] is want, (i, text)
        assert _doc_quality_pass(text) is want, (i, text)


def _simhash_md5_ref(text):
    """Naive SimHash: distinct lowercase whitespace tokens, first 8 bytes
    of md5 per token, one +/-1 vote per bit, signed-64 reinterpret."""
    import hashlib

    votes = [0] * 64
    for t in set((text or "").lower().split()):
        h = int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    sig = sum(1 << b for b in range(64) if votes[b] > 0)
    return sig - (1 << 64) if sig >= 1 << 63 else sig


def test_simhash_matches_md5_reference(spark):
    """The JVM projection equals a hashlib.md5 reference bit-for-bit,
    including null/empty/whitespace-only docs (signature 0), case-folded
    duplicate tokens and tab/newline separators."""
    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "The THE the"),
        (5, "alpha beta gamma delta alpha"),
        (6, "x\ty\nz"),
        (7, "lorem ipsum dolor sit amet " * 20),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert got == {d: _simhash_md5_ref(t) for d, t in rows}
    assert got[1] == got[2] == got[3] == 0


def test_embedding_dup_pairs_multiband_recall(spark):
    """Planted near-duplicate pairs: multi-band blocking must recover
    nearly all of them, and strictly more than a single band (the r2
    single-bucket design provably misses near-threshold pairs whose one
    sign bit flips). Ground truth = brute-force cosine >= threshold."""
    import numpy as np

    from nativeextractor_spark.textops.similarity import (
        embedding_duplicate_pairs,
    )

    rng = np.random.RandomState(7)
    dim, n_base = 16, 60
    base = rng.standard_normal((n_base, dim))
    rows = []
    truth = set()
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # plant a near-duplicate of every 2nd vector (small noise)
        if i % 2 == 0:
            w = v + 0.12 * rng.standard_normal(dim)
            rows.append((1000 + i, [float(x) for x in w]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    X = np.array([r[1] for r in rows])
    ids = [r[0] for r in rows]
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = Xn @ Xn.T
    thr = 0.9
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            if round(sims[a, b], 6) >= thr:
                truth.add((min(ids[a], ids[b]), max(ids[a], ids[b])))
    assert len(truth) >= 20  # the planted pairs are above threshold

    def recall(n_bands):
        got = {
            (r.id_a, r.id_b)
            for r in embedding_duplicate_pairs(
                df, threshold=thr, n_planes=6, n_bands=n_bands, dim=dim
            ).collect()
        }
        assert got <= truth  # exact verify: no false positives
        return len(got & truth) / len(truth)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1
    assert r4 >= 0.9, (r1, r4)


def test_gopher_repetition_metrics(spark):
    from nativeextractor_spark.textops.lines import gopher_repetition

    df = spark.createDataFrame(
        [
            (1, "a b\nc d\na b\ne f"),  # one duplicate line of four
            (2, "clean doc\nwith two lines"),
            (3, "rep rep rep rep rep rep"),  # degenerate repetition
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in gopher_repetition(df).collect()}
    assert rows[1].dup_line_frac == 0.25
    assert rows[1].dup_line_char_frac == 0.25
    assert rows[2].dup_line_frac == 0.0 and rows[2].repetition_pass in (True, False)
    # the count-weighted top-2gram fraction exceeds the 0.20 threshold on
    # the degenerate doc -> filtered
    assert rows[3].top2gram_char_frac > 0.2 and not rows[3].repetition_pass


def test_drop_duplicate_lines_keep_first_and_idempotent(spark):
    from nativeextractor_spark.textops.lines import drop_duplicate_lines

    df = spark.createDataFrame(
        [
            (1, "hdr\nbody one\nhdr"),
            (2, "hdr\nbody two"),
            (3, "unique only"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in drop_duplicate_lines(df).collect()}
    # 'hdr' survives only at (doc 1, pos 0); both other occurrences drop
    assert out[1].text == "hdr\nbody one" and out[1].n_removed == 1
    assert out[2].text == "body two" and out[2].n_removed == 1
    assert out[3].text == "unique only" and out[3].n_removed == 0
    # idempotent: running again removes nothing new
    again = {
        r.doc_id: r
        for r in drop_duplicate_lines(
            drop_duplicate_lines(df).select("doc_id", "text")
        ).collect()
    }
    assert all(again[k].n_removed == 0 for k in again)
    assert {k: v.text for k, v in again.items()} == {
        k: v.text for k, v in out.items()
    }


def test_ann_recall_clustered_tuning_curve(spark):
    """VERDICT r3 item 5: on a clustered corpus the recall metric must
    demonstrate TUNED behavior — multi-band LSH monotonically closes the
    single-band gap and the trained-IVF path finds the planted clusters.
    Pins the measured curve (deterministic fixture): lsh1 0.400 < lsh4
    0.675 < lsh_tuned 0.975; ivf_kmeans 1.0."""
    from nativeextractor_spark.queries import q_ann_recall_clustered

    rows = q_ann_recall_clustered(spark, "unused").collect()
    mean = {}
    for m in ("lsh1", "lsh4", "lsh_tuned", "ivf_kmeans"):
        rs = [r.recall_at_k for r in rows if r.method == m]
        assert len(rs) == 8
        mean[m] = sum(rs) / len(rs)
    assert mean["lsh1"] < mean["lsh4"] < mean["lsh_tuned"]
    assert mean["lsh_tuned"] >= 0.9
    assert mean["ivf_kmeans"] >= 0.9
    assert abs(mean["lsh1"] - 0.400) < 1e-6
    assert abs(mean["lsh_tuned"] - 0.975) < 1e-6


def test_lsh_topk_multiband_superset_of_single_band(spark):
    """n_bands>1 candidates are a superset of band 0's, so per-query
    recall can only improve; with enough bands the result converges to the
    exact top-k on the clustered fixture."""
    from nativeextractor_spark.datagen.embeddings import clustered_embeddings_df
    from nativeextractor_spark.textops.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
    )
    import pyspark.sql.functions as F

    emb = clustered_embeddings_df(spark)
    queries = emb.where(F.col("vec_id") % 30 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_bruteforce(emb, queries, k=3).collect()
    }
    one = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_lsh(
            emb, queries, k=3, n_planes=4, dim=16, n_bands=1
        ).collect()
    }
    many = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_lsh(
            emb, queries, k=3, n_planes=4, dim=16, n_bands=16
        ).collect()
    }
    assert len(many & exact) >= len(one & exact)
    assert many == exact  # 16 bands of 4 planes: converged


def test_oracle_lloyd_kmeans_is_independent_and_agrees():
    """ADVICE r3: the ann_ivf_kmeans oracle must not reuse the Spark-side
    lloyd_kmeans. _oracle_lloyd_kmeans is a from-scratch reimplementation
    (per-vector assignment loop, explicit accumulate/divide); both must
    produce bit-identical centroids on the same deterministic spec — on
    the gate's actual sf0.01 sample and on synthetic data. (Sequential and
    NumPy small-block summation coincide below the pairwise blocksize, so
    identity here is exact, not approximate.)"""
    import numpy as np

    from nativeextractor_spark.queries import _oracle_lloyd_kmeans
    from nativeextractor_spark.textops.similarity import lloyd_kmeans

    rng = np.random.RandomState(7)
    X = rng.standard_normal((300, 16)).tolist()
    a, b = lloyd_kmeans(X, 8), _oracle_lloyd_kmeans(X, 8)
    assert [[repr(x) for x in c] for c in a] == [[repr(x) for x in c] for c in b]

    try:
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            "/root/testdata/sf0.01/embeddings.parquet",
            columns=["vec_id", "embedding"],
        )
    except Exception:
        pytest.skip("sf0.01 embeddings not available")
    rows = sorted(zip(tbl["vec_id"].to_pylist(), tbl["embedding"].to_pylist()))
    X = [v for _, v in rows[:4096]]
    a, b = lloyd_kmeans(X, 8), _oracle_lloyd_kmeans(X, 8)
    assert [[repr(x) for x in c] for c in a] == [[repr(x) for x in c] for c in b]


_GOPHER_MAX = [0.30, 0.20, 0.20, 0.18, 0.16, 0.15, 0.14, 0.13, 0.12, 0.11, 0.10]


def _gopher_ref(text, span):
    """Naive Gopher repetition metrics straight from the definitions:
    Counter over lines and over n-token tuples; the span flavor unions
    the CHARACTER positions covered by duplicated-gram occurrences."""
    import math
    import re
    from collections import Counter

    def t6(num, den):
        return math.floor(num * 1000000.0 / max(den, 1)) / 1000000

    text = text or ""
    lines = text.split("\n")
    lc = Counter(lines)
    out = [
        t6(sum(c - 1 for c in lc.values()), len(lines)),
        t6(sum((c - 1) * len(ln) for ln, c in lc.items()), sum(map(len, lines))),
    ]
    toks = re.split("[ \n]", text)
    starts = [sum(len(t) + 1 for t in toks[:k]) for k in range(len(toks))]
    for n in range(2, 11):
        occ = [tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        counts = Counter(occ)
        glen = {g: len(" ".join(g)) for g in counts}
        if not occ:
            out.append(0.0)
        elif n <= 4:
            c, ln = max((c, glen[g]) for g, c in counts.items())
            out.append(t6(c * ln, len(text)))
        elif not span:
            out.append(
                t6(sum(c * glen[g] for g, c in counts.items() if c > 1), len(text))
            )
        else:
            covered = set()
            for i, g in enumerate(occ):
                if counts[g] > 1:
                    covered.update(range(starts[i], starts[i] + glen[g]))
            out.append(t6(len(covered), len(text)))
    return tuple(out) + (all(m <= t for m, t in zip(out, _GOPHER_MAX)),)


def test_gopher_repetition_matches_naive_reference(spark):
    """Both dup flavors equal the naive reference on seeded rows with
    null, empty, multibyte and double-separator docs, empty lines,
    overlapping repeats, runs exactly n tokens apart, and (count,
    length)-tied top grams."""
    import random

    from nativeextractor_spark.textops.lines import gopher_repetition

    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(25)] + ["ř", "čč", "x", "yyyy", ""]
    rows = [
        (0, None),
        (1, ""),
        (2, "single"),
        (3, "a b c a b c a b c"),
        (4, "x\n\nx\n\ny z  q"),  # empty lines + double separators
        (5, "aa bb aa bb cc\naa bb aa bb cc\ntail bit"),
        (6, "aa bb aa bb aa bb cc dd ee ff gg hh ii jj"),
        (7, "x yyyy z w vv uuu"),  # all 2-grams unique, lengths differ
        (8, "x x x x x x x x x x x x"),  # maximal overlap
        (9, "a b c d e a b c d e f g h i j a b c d e"),  # runs at gap n
        (10, "s  s  s  s  s  s  s"),  # empty tokens
    ]
    for i in range(60):
        toks = [vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(1, 80))]
        if rng.random() < 0.5 and len(toks) > 8:  # planted overlapping repeat
            seg = toks[: rng.randrange(2, 8)]
            toks = toks + seg + seg + toks[:3]
        text = " ".join(toks)
        if rng.random() < 0.4:  # newline-separated lines with repeats
            text = text.replace(" ", "\n", rng.randrange(1, 4))
        rows.append((100 + i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for flavor in ("count", "span"):
        got = gopher_repetition(df, dup_flavor=flavor, assume_unique=True)
        assert len(got.columns) == 13
        want = sorted((d, *_gopher_ref(t, flavor == "span")) for d, t in rows)
        assert sorted(map(tuple, got.collect())) == want, flavor


def test_duplicate_spans_keep_first_and_idempotent(spark):
    """ExactSubstr-style span dedup (r4): corpus-wide duplicated token
    n-grams, merged intervals, all-but-first removal, idempotent."""
    from nativeextractor_spark.textops.spans import (
        duplicate_span_stats,
        remove_duplicate_spans,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta unique one"),
        (2, "prefix alpha beta gamma delta epsilon zeta suffix"),
        (3, "totally different words here again now ok fine"),
        (4, None),
        (5, "alpha beta gamma delta epsilon zeta unique one"),  # dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {r.doc_id: r for r in duplicate_span_stats(df, n_tokens=4).collect()}
    assert len(stats) == 5
    assert stats[1].n_dup_spans == 0  # global first occurrences survive
    assert stats[2].dup_span_chars == 35  # the shared 6-token run
    assert stats[5].dup_span_frac == 1.0  # exact duplicate: fully covered
    assert stats[3].n_dup_spans == 0 and stats[4].n_chars == 0

    out = {r.doc_id: r for r in remove_duplicate_spans(df, n_tokens=4).collect()}
    assert out[2].text == "prefix  suffix" and out[2].n_removed_chars == 35
    assert out[5].text == "" and out[5].n_removed_chars == 46
    assert out[1].text == rows[0][1]
    # idempotent: nothing new removed on the cleaned corpus
    cleaned = spark.createDataFrame(
        [(r.doc_id, r.text) for r in out.values()], "doc_id long, text string"
    )
    assert all(
        r.n_removed_chars == 0
        for r in remove_duplicate_spans(cleaned, n_tokens=4).collect()
    )


def test_duplicate_spans_duplicate_ids_collapse(spark):
    """r4 review: duplicate input ids (recrawls) must not interleave the
    token-offset arrays or multiply output rows — they collapse to the
    min text upfront, mirroring curate_corpus."""
    from nativeextractor_spark.textops.spans import (
        duplicate_span_stats,
        remove_duplicate_spans,
    )

    t = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [(1, t), (1, t + " recrawl tail"), (2, t)],  # id 1 recrawled
        "doc_id long, text string",
    )
    stats = duplicate_span_stats(df, n_tokens=4).collect()
    assert len(stats) == 2  # one row per id, not per input row
    by = {r.doc_id: r for r in stats}
    assert by[1].n_dup_spans == 0  # min-text copy of id 1 is the keeper
    assert by[2].dup_span_frac == 1.0
    out = {r.doc_id: r for r in remove_duplicate_spans(df, n_tokens=4).collect()}
    assert len(out) == 2 and out[1].text == t and out[2].text == ""


def test_gopher_repetition_span_flavor(spark):
    """The r4 span-union flavor implements the published Gopher rule:
    dup{n}gram_char_frac is the fraction of characters covered by the
    UNION of duplicated-gram occurrence intervals — hand-checked on a
    fixture where the count flavor's upper bound exceeds 1.0."""
    from nativeextractor_spark.textops.lines import gopher_repetition

    df = spark.createDataFrame(
        [
            # 14 tokens, 41 chars; duplicated 5-grams at token positions
            # {1,4} and {2,5}; interval union = [0, 26) → 26/41
            (4, "aa bb cc aa bb cc aa bb cc dd ee ff gg hh"),
            (2, "x y z w q r s t u v"),  # no duplicated grams
            (3, None),
        ],
        "doc_id long, text string",
    )
    c = {r.doc_id: r for r in gopher_repetition(df, dup_flavor="count").collect()}
    s = {r.doc_id: r for r in gopher_repetition(df, dup_flavor="span").collect()}
    assert s[4].dup5gram_char_frac == 0.634146  # floor(26*1e6/41)/1e6
    assert c[4].dup5gram_char_frac > 1.0  # the count upper bound overflows
    for d in c:
        for n in range(5, 11):
            sv = getattr(s[d], f"dup{n}gram_char_frac")
            assert sv <= getattr(c[d], f"dup{n}gram_char_frac") + 1e-9
            assert sv <= 1.0 + 1e-9
        # top fractions are flavor-independent by construction
        for n in (2, 3, 4):
            assert getattr(s[d], f"top{n}gram_char_frac") == getattr(
                c[d], f"top{n}gram_char_frac"
            )
    with pytest.raises(ValueError):
        gopher_repetition(df, dup_flavor="nope")
    # r4 review 3: duplicate ids collapse (min text) under the span
    # flavor instead of interleaving the offset arrays
    dup = spark.createDataFrame(
        [(1, "a b a b a b"), (1, "z z z recrawl"), (2, "x y")],
        "doc_id long, text string",
    )
    rows = gopher_repetition(dup, dup_flavor="span").collect()
    assert len(rows) == 2
    one = {r.doc_id: r for r in rows}[1]
    ref = {
        r.doc_id: r
        for r in gopher_repetition(
            spark.createDataFrame([(1, "a b a b a b")], "doc_id long, text string"),
            dup_flavor="span",
        ).collect()
    }[1]
    assert tuple(one) == tuple(ref)


def test_drop_duplicate_lines_hash_vs_string_flavor(spark):
    """The 8-byte-key shuffle flavor (default) and the raw-string flavor
    (oracle-replayable) agree row-for-row; the hash flavor's plan carries
    xxhash64 keys."""
    from nativeextractor_spark.textops.lines import drop_duplicate_lines

    df = spark.createDataFrame(
        [(i, f"hdr\nbody {i % 7}\nhdr\ntail {i}") for i in range(40)]
        + [(100, None), (101, "")],
        "doc_id long, text string",
    )
    h = sorted(map(tuple, drop_duplicate_lines(df, line_key="hash").collect()))
    s = sorted(map(tuple, drop_duplicate_lines(df, line_key="string").collect()))
    assert h == s
    plan = (
        drop_duplicate_lines(df, line_key="hash")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "xxhash64" in plan
    with pytest.raises(ValueError):
        drop_duplicate_lines(df, line_key="nope")


def test_redact_pii_spans_and_nulls(spark):
    from nativeextractor_spark.textops import redact_pii

    df = spark.createDataFrame(
        [
            ("a", "mail me at blah@seznam.com today"),
            ("b", "visit http://example.com/x, thanks"),
            ("c", None),
            ("d", ""),
            ("e", "no pii here"),
        ],
        "url string, text string",
    )
    out = {r.url: r for r in redact_pii(df).collect()}
    assert out["a"].text == "mail me at <EMAIL> today" and out["a"].n_redactions == 1
    # URL miner strips trailing sentence punctuation
    assert out["b"].text == "visit <URL>, thanks" and out["b"].n_redactions == 1
    assert out["c"].text is None and out["c"].n_redactions == 0
    assert out["d"].text == "" and out["d"].n_redactions == 0
    assert out["e"].text == "no pii here" and out["e"].n_redactions == 0


def test_minhash_word_hash_flavor(spark):
    """The word_hash scale flavor must find exact-duplicate pairs like the
    string flavors, be deterministic, and reject non-xx64 band hashes."""
    import pytest

    from nativeextractor_spark.textops import lsh_duplicate_pairs, minhash_bands

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely different words appear in this document body"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b)
        for r in lsh_duplicate_pairs(
            df, num_hashes=4, k=3, hash_flavor="xx64", shingle="word_hash"
        ).collect()
    }
    assert (1, 2) in pairs and not any(3 in p for p in pairs)
    a = sorted(map(tuple, minhash_bands(df, hash_flavor="xx64", shingle="word_hash").collect()))
    b = sorted(map(tuple, minhash_bands(df, hash_flavor="xx64", shingle="word_hash").collect()))
    assert a == b
    with pytest.raises(ValueError, match="word_hash"):
        minhash_bands(df, hash_flavor="md5", shingle="word_hash")


def test_gopher_repetition_short_and_null_docs(spark):
    """Review r3: docs with fewer than n tokens have NO n-grams (fraction
    0, not a fabricated whole-text gram), and NULL-text docs keep a row."""
    from nativeextractor_spark.textops.lines import gopher_repetition

    clean = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "one"), (4, clean)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in gopher_repetition(df).collect()}
    assert set(rows) == {1, 2, 3, 4}
    # a two-token doc has a 2-gram but NO fabricated 3/4-grams
    assert rows[1].top3gram_char_frac == 0.0
    assert rows[1].top4gram_char_frac == 0.0
    # docs shorter than n tokens contribute fraction 0 for that n; docs
    # with NO 2-grams (<=1 token, incl. NULL) pass all gram rules
    assert rows[2].top2gram_char_frac == 0.0 and rows[2].repetition_pass
    assert rows[3].repetition_pass
    # a 40-distinct-token doc passes everything
    assert rows[4].repetition_pass


def test_drop_duplicate_lines_blank_exempt_and_null(spark):
    """Review r3: blank lines (paragraph separators) are never deduped
    corpus-wide, and NULL-text docs keep an output row."""
    from nativeextractor_spark.textops.lines import drop_duplicate_lines

    df = spark.createDataFrame(
        [(1, "p1\n\np2"), (2, "q1\n\nq2"), (3, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in drop_duplicate_lines(df).collect()}
    assert out[1].text == "p1\n\np2" and out[1].n_removed == 0
    assert out[2].text == "q1\n\nq2" and out[2].n_removed == 0
    assert 3 in out and out[3].n_removed == 0


def test_curate_corpus_end_to_end(spark):
    """The full curation chain: quality/repetition filters drop junk,
    exact+near dedup keep one representative per cluster, line dedup strips
    shared boilerplate, and PII is redacted in the survivors."""
    from nativeextractor_spark.textops.pipeline import curate_corpus

    # >=50 mostly-distinct words (passes the word-count AND repetition
    # rules), >=2 stopwords, alpha-bearing tokens, one email to redact
    def good(seed):
        body = " ".join(f"word{seed}x{i}" for i in range(55))
        return body + " the and that have mail x@y.zw done"

    hdr = "shared boilerplate header\n"
    rows = [
        ("a", hdr + good(1)),
        ("b", hdr + good(2)),
        ("c", hdr + good(1)),             # exact dup of a (after same hdr)
        ("d", "junk " * 3),               # fails word-count rule
        ("e", hdr + good(1) + " tail55"), # near dup of a
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    out, metrics = curate_corpus(
        df,
        lsh_num_hashes=6,
        lsh_k=3,
        lsh_min_shared_bands=2,
    )
    got = {r.url: r.text for r in out.collect()}
    assert metrics["n_input"] == 5
    assert "d" not in got                      # quality-filtered
    assert "c" not in got                      # exact dup removed
    assert "a" in got                          # cluster keeper survives
    # boilerplate header survives only in the first doc that carried it
    assert sum(t.startswith("shared boilerplate header") for t in got.values()) == 1
    # PII redacted in survivors
    assert all("x@y.zw" not in t for t in got.values())
    assert any("<EMAIL>" in t for t in got.values())
    assert metrics["n_output"] == len(got)
    assert (
        metrics["n_input"]
        >= metrics["after_filters"]
        >= metrics["after_exact_dedup"]
        >= metrics["after_near_dedup"]
        >= metrics["n_output"]
    )


def test_curate_corpus_span_dedup_stage(spark):
    """The opt-in ExactSubstr stage splices repeated token runs out of
    survivors and reports the removed-character metric."""
    from nativeextractor_spark.textops.pipeline import curate_corpus

    shared = " ".join(f"run{i}" for i in range(10))

    def good(seed):
        body = " ".join(f"word{seed}x{i}" for i in range(50))
        return f"{shared} {body} the and that have done"

    df = spark.createDataFrame(
        [("a", good(1)), ("b", good(2))], "url string, text string"
    )
    out, m = curate_corpus(
        df,
        span_dedup=True,
        span_dedup_n_tokens=5,
        near_dedup=False,
        redact=False,
    )
    got = {r.url: r.text for r in out.collect()}
    assert set(got) == {"a", "b"}
    assert m["span_dedup_removed_chars"] >= len(shared)
    # the shared run survives in exactly one document
    assert sum(shared in t for t in got.values()) == 1


def test_curate_corpus_duplicate_ids_do_not_multiply(spark):
    """Review r3: duplicate input ids (recrawls) must not multiply rows
    through the keeper-id joins — the pipeline keeps one deterministic
    row per id before any stage."""
    from nativeextractor_spark.textops.pipeline import curate_corpus

    def good(seed):
        body = " ".join(f"word{seed}x{i}" for i in range(55))
        return body + " the and that have done"

    df = spark.createDataFrame(
        [("a", good(1)), ("a", good(2)), ("b", good(3))],
        "url string, text string",
    )
    out, metrics = curate_corpus(df, near_dedup=False, redact=False)
    rows = out.collect()
    assert metrics["n_input"] == 3  # real input volume (ADVICE r3)
    assert metrics["n_distinct_ids"] == 2  # surfaces the id collision
    assert len(rows) == len({r.url for r in rows}) == 2
    # deterministic pick: min text per id
    assert {r.url: r.text for r in rows}["a"] == min(good(1), good(2))


def test_lsh_verify_jaccard_filters_borderline_pairs(spark):
    """r5: exact-Jaccard verification keeps true near-duplicates and
    drops borderline band collisions — the edges that chain distinct
    docs through connected components at corpus scale (measured 36%
    over-drop at sf1 without it)."""
    from nativeextractor_spark.textops.dedup import lsh_duplicate_pairs

    shared = " ".join(f"t{i}" for i in range(40))
    a = shared + " " + " ".join(f"a{i}" for i in range(10))
    b = shared + " " + " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [("A", a), ("B", b), ("C", a + " extra")],
        "doc_id string, text string",
    )
    kw = dict(
        num_hashes=8,
        k=3,
        min_shared_bands=1,
        hash_flavor="xx64",
        shingle="word_hash",
    )
    plain = {
        (r.doc_a, r.doc_b) for r in lsh_duplicate_pairs(docs, **kw).collect()
    }
    # the ~0.65-Jaccard pair (A, B) collides on at least one band —
    # exactly the borderline edge CC would chain
    assert {("A", "B"), ("A", "C")} <= plain, plain
    rows = lsh_duplicate_pairs(docs, verify_jaccard=0.8, **kw).collect()
    verified = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    assert ("A", "B") not in verified, verified
    assert verified[("A", "C")] >= 0.8
    # looser threshold keeps the borderline edge, with its true jaccard
    loose = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in lsh_duplicate_pairs(docs, verify_jaccard=0.5, **kw).collect()
    }
    assert 0.5 <= loose[("A", "B")] < 0.8


def test_curate_corpus_verify_jaccard_passthrough(spark):
    """The pipeline's near-dedup drops only VERIFIED near-duplicates when
    lsh_verify_jaccard is set: a half-overlapping (distinct) doc survives
    that the unverified defaults would chain away."""
    from nativeextractor_spark.textops.pipeline import curate_corpus

    def good(extra):
        body = " ".join(f"w{i}" for i in range(50))
        return body + " " + extra + " the and that have done"

    shared = good("")
    rows = [
        ("a", shared),
        ("b", shared + " tail tail2"),  # true near-dup of a
        ("c", " ".join(f"w{i}" for i in range(25))
              + " " + " ".join(f"z{i}" for i in range(25))
              + " the and that have done"),  # half-overlap: distinct
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    out, _ = curate_corpus(
        df,
        quality_filter=False,
        repetition_filter=False,
        line_dedup=False,
        redact=False,
        lsh_num_hashes=8,
        lsh_k=3,
        lsh_min_shared_bands=1,
        lsh_verify_jaccard=0.8,
    )
    got = {r.url for r in out.collect()}
    assert got == {"a", "c"}, got


def test_curate_corpus_default_verifies_borderline_chain(spark):
    """r6: the PRODUCTION defaults no longer chain borderline band
    collisions — a planted chain of half-overlapping DISTINCT docs
    (a~m1~m2~b, each link ~0.5 word-3 Jaccard, end-to-end nothing
    shared) all survive, while a true near-duplicate still collapses.
    Under the unverified r5 defaults CC chained the whole borderline
    component and keep-min deleted all but one (the 36%-over-drop
    mechanism measured at sf1)."""
    from nativeextractor_spark.textops.pipeline import curate_corpus

    # four docs, consecutive halves overlapping: w0..w49 | w25..w74 |
    # w50..w99 | w75..w124 — adjacent Jaccard ~0.4-0.5 (borderline),
    # non-adjacent near-zero; plus a TRUE near-dup of the first doc
    def words(lo, hi):
        return " ".join(f"w{i}" for i in range(lo, hi))

    rows = [
        ("a", words(0, 50)),
        ("m1", words(25, 75)),
        ("m2", words(50, 100)),
        ("b", words(75, 125)),
        ("a_dup", words(0, 50) + " tail"),  # true near-dup of a
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    out, metrics = curate_corpus(
        df,
        quality_filter=False,
        repetition_filter=False,
        line_dedup=False,
        redact=False,
        # min_shared_bands=1 makes every borderline link a candidate
        # edge — the worst case the default verification must defuse
        lsh_min_shared_bands=1,
    )
    got = {r.url for r in out.collect()}
    # all four distinct docs survive; the true near-dup collapses into a
    assert got == {"a", "m1", "m2", "b"}, got
    assert metrics["after_near_dedup"] == 4
    # control: switching verification OFF (the r5 behavior) chains the
    # borderline component away — proving the default is what saves it
    out_raw, _ = curate_corpus(
        df,
        quality_filter=False,
        repetition_filter=False,
        line_dedup=False,
        redact=False,
        lsh_min_shared_bands=1,
        lsh_verify_jaccard=None,
    )
    got_raw = {r.url for r in out_raw.collect()}
    assert len(got_raw) < 4, got_raw


def test_fused_filter_kernel_matches_separate_operators(spark):
    """r8: the curation pipeline's fused quality+repetition keep kernel
    must select EXACTLY the ids that pass gopher_quality_filters AND
    gopher_repetition, across randomized docs including boundary word
    counts, symbol-heavy tokens, stopword-poor texts, repeats, and
    empty/null rows — for both dup flavors."""
    import random

    from nativeextractor_spark.textops.lines import (
        gopher_filter_keep_kernel,
        gopher_repetition,
    )
    from nativeextractor_spark.textops.quality import gopher_quality_filters

    rng = random.Random(31)
    stops = ["the", "be", "to", "of", "and", "that", "have", "with"]
    vocab = ["alpha", "beta", "##", "x...", "12", "q", "réé"] + stops
    rows = [(0, None), (1, ""), (2, "the of " + "word " * 48)]
    for i in range(50):
        n = rng.choice([5, 49, 50, 51, 80, 120])
        toks = [vocab[rng.randrange(len(vocab))] for _ in range(n)]
        if rng.random() < 0.5 and n > 10:  # planted repetition
            seg = toks[:5]
            toks += seg * rng.randrange(1, 4)
        text = " ".join(toks)
        if rng.random() < 0.3:
            text = text.replace(" ", "\n", 3)
        rows.append((10 + i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for flavor in ("count", "span"):
        fused = sorted(
            r.doc_id
            for r in gopher_filter_keep_kernel(
                df, "text", "doc_id", flavor
            ).collect()
        )
        q = {
            r.doc_id
            for r in gopher_quality_filters(df).collect()
            if r.gopher_pass
        }
        rep = {
            r.doc_id
            for r in gopher_repetition(
                df, dup_flavor=flavor, assume_unique=True
            ).collect()
            if r.repetition_pass
        }
        assert fused == sorted(q & rep), flavor
