"""Deduplication operators for large-scale training-data pipelines.

Every operator here is built from JVM-side DataFrame expressions
(whole-stage codegen) — no Python kernel. Hash flavors used in the
SQL-oracle-checkable operators are md5-based so DuckDB can reproduce them
bit-for-bit; the scale flavor swaps in xxhash64 (cheaper) without changing
the plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nativeextractor_spark.kg.skew import banded_self_join, set_jaccard
from nativeextractor_spark.staging import stage


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per sha256(text) group.

    One shuffle on the digest; partial aggregation is map-side. Returns
    (doc_id, text_hash, group_size).
    """
    from nativeextractor_spark.operators.extract import coalesce_for_kernel

    h = F.sha2(F.col(text_col), 256).alias("text_hash")
    return (
        # tiny-split inputs otherwise pay one shuffle-map-task setup per
        # split (guide §2.2: fewer, larger map tasks; bytes-capped no-op
        # at real volumes)
        coalesce_for_kernel(df.select(F.col(id_col).alias("doc_id"), h))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("group_size"),
        )
        .select("doc_id", "text_hash", "group_size")
    )


def _shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, k: int, shingle: str
) -> DataFrame:
    """(doc_id, shingles) for every shingle flavor. ``char``: the k-char
    substrings of lower(text), the oracle-reproducible flavor.
    ``word_hash`` (the scale flavor, r3): k consecutive whitespace tokens
    (split on the whitespace CLASS with empties dropped, so tabs, newlines
    and space runs shingle alike), identified by an xxhash64 combine of
    their k TOKEN HASHES — no per-shingle slice+join allocations, measured
    7-8x faster than building shingle strings on the 50k-page table.
    Shared by :func:`minhash_bands` and the exact-Jaccard pair
    verification (r5)."""
    from nativeextractor_spark.operators.extract import coalesce_for_kernel

    df = coalesce_for_kernel(df)
    if shingle == "word_hash":
        toks = f"filter(split(lower({text_col}), '\\\\s+'), t -> t <> '')"
        combine = ", ".join(f"try_element_at(_th, i + {j})" for j in range(k))
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.expr(f"transform({toks}, t -> xxhash64(t))").alias("_th"),
        ).select(
            "doc_id",
            F.expr(
                f"transform(sequence(1, greatest(size(_th) - {k - 1}, 1)),"
                f" i -> xxhash64({combine}))"
            ).alias("shingles"),
        )
    if shingle != "char":
        raise ValueError(f"unknown shingle flavor {shingle!r}")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(
            f"transform(sequence(1, greatest(length(lower({text_col})) - {k - 1}, 1)),"
            f" i -> substring(lower({text_col}), i, {k}))"
        ).alias("shingles"),
    )


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    k: int = 5,
    hash_flavor: str = "md5",
    shingle: str = "char",
) -> DataFrame:
    """MinHash signature rows (doc_id, band, min_hash).

    min_hash_i = min over shingles of hash(i || shingle); banding with r=1
    rows/band. Hash flavors: ``md5`` is reproducible in ANSI SQL (DuckDB
    oracle); ``xx64`` is the scale path. Shingle flavors (see
    :func:`_shingle_arrays`): ``char`` builds shingle STRINGS;
    ``word_hash`` (xx64-only) hashes token shingles with no string
    allocation. Both stay entirely JVM-side.
    """
    bands = F.array(*[F.lit(i) for i in range(num_hashes)])
    if hash_flavor == "md5":
        hash_fn = lambda s: F.md5(F.concat(F.col("band").cast("string"), s))
    elif hash_flavor == "xx64":
        hash_fn = lambda s: F.xxhash64(F.col("band"), s)
    else:
        raise ValueError(f"unknown hash_flavor {hash_flavor!r}")
    if shingle == "word_hash" and hash_flavor != "xx64":
        # long-typed shingles require the xx64 band hash
        raise ValueError("shingle='word_hash' requires hash_flavor='xx64'")
    base = _shingle_arrays(df, text_col, id_col, k, shingle)
    # NOTE the explode-then-hash shape is deliberate: the GenerateExec
    # materializes the shingle array once per document and the per-band rows
    # reference it. Computing all band minhashes in one projection reads
    # nicer but CollapseProject inlines the (expensive) shingling expression
    # into every band column — 4x the split/join work, measured 4-5x slower.
    return (
        base.select("doc_id", F.explode(bands).alias("band"), "shingles")
        .select(
            "doc_id",
            "band",
            F.array_min(F.transform("shingles", hash_fn)).alias("min_hash"),
        )
    )


def lsh_duplicate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    k: int = 5,
    min_shared_bands: int = 2,
    max_bucket: int = 200,
    hash_flavor: str = "md5",
    shingle: str = "char",
    verify_jaccard: float | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs: docs sharing ≥ min_shared_bands LSH
    buckets. Oversized buckets are dropped (bounded skew). Returns
    (doc_a, doc_b, shared_bands); with ``verify_jaccard`` set, each
    candidate pair is additionally verified against the exact shingle-set
    Jaccard (same flavor the minhashes sampled) and the output gains a
    ``jaccard`` column — the defense against transitive CC chaining of
    borderline band collisions at corpus scale (see the inline note)."""
    if hash_flavor not in ("md5", "xx64"):
        raise ValueError(f"unknown hash_flavor {hash_flavor!r}")
    if shingle == "word_hash" and hash_flavor != "xx64":
        # long-typed shingles require the xx64 band hash (minhash_bands
        # enforces this on the unverified path; the verified path must too)
        raise ValueError("shingle='word_hash' requires hash_flavor='xx64'")
    sets = None
    if verify_jaccard is not None:
        # r8: with verification on, shingle the corpus ONCE — stage the
        # distinct shingle arrays and derive the band minhashes FROM the
        # staged arrays (elementwise hash + min is invariant under
        # duplicate removal, so min over the distinct set equals
        # minhash_bands' min over the raw multiset). The r5-r7 shape ran a
        # SECOND full shingling pass just to build the verification sets.
        sets = (
            _shingle_arrays(df, text_col, id_col, k, shingle)
            .select("doc_id", F.array_distinct("shingles").alias("_sh"))
            .transform(stage("dedup"))
        )
        # all band minhashes in ONE projection then posexplode (r8): _sh
        # is a STAGED column here, so hash-then-explode cannot trigger the
        # CollapseProject re-shingling trap that forces minhash_bands'
        # explode-then-hash order — and the per-band rows stop carrying
        # (and copying) the full shingle array through the Generate
        if hash_flavor == "xx64":
            mh = (
                f"transform(sequence(0, {num_hashes - 1}),"
                " b -> array_min(transform(_sh, s -> xxhash64(b, s))))"
            )
        else:  # md5
            mh = (
                f"transform(sequence(0, {num_hashes - 1}),"
                " b -> array_min(transform(_sh,"
                " s -> md5(concat(cast(b as string), s)))))"
            )
        bands = (
            sets.select(
                "doc_id", F.posexplode(F.expr(mh)).alias("band", "min_hash")
            )
            .transform(stage("dedup"))
        )
    else:
        # materialize the (small: num_hashes rows/doc) band table once —
        # the bucket sizing, the bounded join, and BOTH self-join sides
        # consume it; without truncation each re-runs the full
        # shingling/minhash scan
        bands = minhash_bands(
            df, text_col, id_col, num_hashes, k, hash_flavor, shingle
        ).transform(stage("dedup"))
    pairs = banded_self_join(
        bands, ["band", "min_hash"], "doc_id", max_bucket
    ).where(F.col("n_shared") >= min_shared_bands).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("n_shared").alias("shared_bands"),
    )
    if verify_jaccard is None:
        return pairs
    # r5: exact-Jaccard verification of the candidate pairs (the same
    # pattern canonicalize_surfaces always used). Shared-band counting is
    # probabilistic — at corpus scale, borderline band collisions between
    # genuinely-distinct documents chain transitively through connected
    # components and keep-min then removes whole chained clusters
    # (measured: 36% of distinct synthetic pages dropped at sf1 under the
    # defaults, BENCH/BASELINE.md). Verification computes true Jaccard
    # over the SAME shingle sets the minhashes sampled (the staged arrays
    # above) and keeps only pairs >= the threshold — per-pair exact set
    # intersection on the (already bucket-capped) candidate set, never
    # all-pairs. Output gains a ``jaccard`` column (rounded to 6 decimals).
    verified = (
        pairs.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("_sa")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("_sb")),
            "doc_b",
        )
    )
    jac = set_jaccard("_sa", "_sb")
    # threshold on the UNROUNDED jaccard (the rounding is presentation
    # only): both engines then compare the identical IEEE double
    # (double)inter / (double)union, with no round-mode edge at the
    # threshold boundary — the DuckDB oracle mirrors this order (r6)
    return (
        verified.where(jac >= verify_jaccard)
        .withColumn("jaccard", F.round(jac, 6))
        .select("doc_a", "doc_b", "shared_bands", "jaccard")
    )


def _simhash_tokens_sql(text_col: str) -> str:
    """Distinct lowercase whitespace tokens as a SQL array expression.

    Java's ``\\s`` class: ASCII whitespace only — Unicode spaces like
    U+00A0 stay inside tokens (Python's ``str.split()`` would split
    there)."""
    return f"array_distinct(filter(split(lower({text_col}), '\\\\s+'), t -> t <> ''))"


def _simhash_hashes_sql(toks: str, token_hash: str) -> str:
    """array<bigint> of 64-bit token hashes, entirely JVM-side.

    ``md5``: first 16 hex chars of md5(token) as a signed-64 reinterpret
    (two 32-bit conv halves OR'd — conv output above 2^63-1 won't cast);
    ``xx64``: xxhash64 (the cheap scale flavor; not oracle-reproducible)."""
    if token_hash == "md5":
        return (
            f"transform(transform({toks}, t -> substring(md5(t), 1, 16)),"
            " x -> shiftleft(cast(conv(substring(x, 1, 8), 16, 10) as bigint), 32)"
            " | cast(conv(substring(x, 9, 8), 16, 10) as bigint))"
        )
    if token_hash == "xx64":
        return f"transform({toks}, t -> xxhash64(t))"
    raise ValueError(f"unknown token_hash {token_hash!r}")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash: str = "md5",
) -> DataFrame:
    """64-bit SimHash over distinct lowercase whitespace tokens. Returns
    (doc_id, simhash) with the signature reinterpreted as a signed long.

    SimHash is a full-corpus map pass, so it runs as one zero-shuffle
    projection: a higher-order ``aggregate`` folds the token hashes into
    a 64-slot vote array per row, entirely inside the scan stage — no
    exchange, no Python. Null, empty and whitespace-only texts have no
    tokens and get signature 0.

    Token hash flavors: ``md5`` = first 8 bytes of md5(token), reproducible
    in ANSI SQL so the signature is oracle-checkable; ``xx64`` = xxhash64
    (cheapest).
    """
    hashes = _simhash_hashes_sql(_simhash_tokens_sql(text_col), token_hash)
    # empty/null token arrays fold to all-zero votes -> signature 0
    # without a second scan of the (expensive) tokenization expression
    # in a CASE guard
    sig = (
        f"aggregate(coalesce({hashes}, cast(array() as array<bigint>)),"
        f" array_repeat(cast(0 as bigint), {bits}),"
        f" (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),"
        "   (a, i) -> a + (cast(shiftrightunsigned(h, i) & 1 as bigint) * 2 - 1)),"
        f" acc -> aggregate(zip_with(acc, sequence(0, {bits - 1}),"
        "   (v, i) -> if(v > 0, shiftleft(cast(1 as bigint), i),"
        "             cast(0 as bigint))),"
        "   cast(0 as bigint), (a, x) -> a | x))"
    )
    return df.select(F.col(id_col).alias("doc_id"), F.expr(sig).alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_token_freq: int = 1000,
) -> DataFrame:
    """Exact n-gram (word) Jaccard similarity pairs ≥ threshold.

    Inverted-index join on distinct n-grams (keyed by the gram text, so
    the result is oracle-reproducible): |A∩B| via groupBy count, sizes
    joined in, Jaccard = inter / (|A| + |B| - inter). N-grams appearing in
    more than ``max_token_freq`` docs are stop-listed (skew bound).
    Returns (doc_a, doc_b, jaccard).
    """
    grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(size(split(lower({text_col}), ' ')) - {n - 1}, 1)),"
                    f" i -> array_join(slice(split(lower({text_col}), ' '), i, {n}), ' '))"
                )
            )
        ).alias("gram"),
    )
    freq = grams.groupBy("gram").agg(F.countDistinct("doc_id").alias("_df"))
    # materialize the stop-listed gram table once — sizes and BOTH self-join
    # sides consume it (3x the gram scan otherwise)
    grams = grams.join(
        freq.where(F.col("_df") <= max_token_freq).drop("_df"), "gram"
    ).transform(stage("dedup"))
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    a = grams.select(F.col("doc_id").alias("doc_a"), "gram")
    b = grams.select(F.col("doc_id").alias("doc_b"), "gram")
    inter = (
        a.join(b, "gram")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_duplicate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_chunks: int = 4,
    token_hash: str = "md5",
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ ``max_hamming``.

    Pigeonhole blocking: the 64-bit signature splits into ``n_chunks``
    bit-chunks; any pair differing in fewer than ``n_chunks`` bits shares at
    least one IDENTICAL chunk, so for ``max_hamming < n_chunks`` the chunk
    equi-join finds EVERY qualifying pair — exact, never all-pairs.
    Oversized chunk buckets are dropped (the standard skew cap; a dropped
    bucket is a documented recall loss, never an OOM). Verification is
    ``bit_count(xor)`` — pure JVM. Returns (doc_a, doc_b, hamming).
    """
    if max_hamming >= n_chunks:
        raise ValueError("pigeonhole blocking needs max_hamming < n_chunks")
    width = 64 // n_chunks
    mask = (1 << width) - 1
    sigs = simhash(df, text_col, id_col, token_hash=token_hash).transform(
        stage("dedup")
    )
    chunks = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"shiftright(simhash, {i * width}) & {mask}")
                    for i in range(n_chunks)
                ]
            )
        ).alias("chunk_id", "chunk"),
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("_sa"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("_sb"))
    pairs = (
        banded_self_join(chunks, ["chunk_id", "chunk"], "doc_id", max_bucket)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .join(sa, "doc_a")
        .join(sb, "doc_b")
    )
    return (
        pairs.withColumn(
            "hamming",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("int"),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
