"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (JVM-side arithmetic via
``aggregate``/``zip_with`` in DOUBLE for cross-engine determinism); the scale
path buckets vectors with deterministic random-hyperplane LSH so each query
only scans its bucket neighborhood.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nativeextractor_spark.kg.skew import banded_self_join
from nativeextractor_spark.staging import stage


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    queries: (query_id, embedding). Small query sets broadcast; the corpus is
    scanned once (crossJoin + window top-k, AQE-coalesced). Returns
    (query_id, vec_id, cosine, rank). Self-matches are not excluded.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        )
    )
    v = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    sim = (
        v.crossJoin(q)
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("_v"), F.col("_qv"))
                / (_norm(F.col("_v")) * _norm(F.col("_qv"))),
                6,
            ),
        )
        .drop("_v", "_qv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def cosine_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    *,
    n_bands: int = 1,
) -> DataFrame:
    """Approximate top-k: random-hyperplane sign buckets, candidates share a
    bucket with the query, exact cosine re-rank inside the bucket.

    At scale the bucket join replaces the full scan (2^n_planes buckets); the
    hyperplane matrix is a broadcast literal. Recall is tunable two ways:
    fewer ``n_planes`` (bigger buckets) or — without growing bucket size —
    more ``n_bands`` (r4): each band is an independent plane set (seeds
    ``seed+band``), a vector is a candidate if it shares ANY band's bucket
    with the query, and the union of candidates is exact-cosine re-ranked.
    Miss probability drops from (1-p^r) to (1-p^r)^b. n_bands=1 keeps the
    original single-equi-join plan. Returns (query_id, vec_id, cosine, rank).
    """
    if n_bands > 1:
        band_v = F.array(
            *[
                _sign_bucket_expr(
                    F.col(vec_col), _hyperplanes(dim, n_planes, seed + b)
                )
                for b in range(n_bands)
            ]
        )
        v = vectors.select(
            F.col(id_col).alias("vec_id"),
            F.posexplode(band_v).alias("band", "bucket"),
        )
        q = F.broadcast(
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.posexplode(band_v).alias("band", "bucket"),
            )
        )
        # candidate pair set (dedup across bands), then one exact re-rank
        cand = v.join(q, ["band", "bucket"]).select("query_id", "vec_id").distinct()
        sim = (
            cand.join(
                vectors.select(
                    F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")
                ),
                "vec_id",
            )
            .join(
                F.broadcast(
                    queries.select(
                        F.col(query_id_col).alias("query_id"),
                        F.col(vec_col).alias("_qv"),
                    )
                ),
                "query_id",
            )
            .withColumn(
                "cosine",
                F.round(
                    _dot(F.col("_v"), F.col("_qv"))
                    / (_norm(F.col("_v")) * _norm(F.col("_qv"))),
                    6,
                ),
            )
            .drop("_v", "_qv")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("vec_id")
        )
        return (
            sim.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "vec_id", "cosine", "rank")
        )
    planes = _hyperplanes(dim, n_planes, seed)
    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_v"),
        _sign_bucket_expr(F.col(vec_col), planes).alias("bucket"),
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            _sign_bucket_expr(F.col(vec_col), planes).alias("bucket"),
        )
    )
    sim = (
        v.join(q, "bucket")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("_v"), F.col("_qv"))
                / (_norm(F.col("_v")) * _norm(F.col("_qv"))),
                6,
            ),
        )
        .drop("_v", "_qv", "bucket")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _seq_sq_norm(vals) -> float:
    """Left-to-right fold of sum(x*x), matching F.aggregate's evaluation
    order bit-for-bit (NumPy pairwise summation would differ in the last
    ulps; the cosine is rounded to 6 decimals downstream, but identical
    folds keep the literal equal to what the old in-plan _norm computed)."""
    acc = 0.0
    for x in vals:
        acc += float(x) * float(x)
    return acc**0.5


def lloyd_kmeans(X, n_centroids: int, n_iters: int = 5):
    """Spherical k-means (cosine) on an in-memory sample — deterministic:
    float64, fixed iteration count, deterministic init. Returns the
    centroid matrix as a list of lists (the coarse IVF codebook). The
    Spark path's trainer; the DuckDB oracle deliberately retrains with the
    INDEPENDENT ``queries._oracle_lloyd_kmeans`` reimplementation of the
    same spec (bit-agreement pinned in tests), so a bug here cannot pass
    both sides of the gate.

    Init is farthest-point traversal (r6): first sample point, then
    repeatedly the point with the LOWEST max-cosine to any chosen centroid
    (first index on ties). No RNG. Chosen for COVERAGE: the r4/r5
    uniform-random init drew k of N sample points and left ~1/e of k fine
    clusters without a centroid (the measured 0.575-0.65 recall ceiling on
    the r5 100k/1000-cluster fixture — Lloyd iterations only fix this
    locally); farthest-point picks one point per well-separated cluster
    before ever doubling up.
    """
    X = np.asarray(X, dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    Xn = X / np.maximum(norms, 1e-12)
    k = min(n_centroids, len(Xn))
    C = np.empty((k, Xn.shape[1]))
    C[0] = Xn[0]
    best = Xn @ C[0]
    for j in range(1, k):
        C[j] = Xn[int(np.argmin(best))]
        best = np.maximum(best, Xn @ C[j])
    for _ in range(n_iters):
        assign = (Xn @ C.T).argmax(axis=1)
        for j in range(k):
            members = Xn[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return [c.tolist() for c in C]


def train_ivf_codebook(
    vectors: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 4096,
    n_iters: int = 5,
):
    """IVF codebook via Lloyd iterations over a deterministic driver-side
    sample (bounded collect, one small job; at corpus scale this is the
    standard train-on-sample recipe).

    The sample is HASH-ordered (md5 of the id string, id tie-break), not
    lowest-id: ids routinely correlate with content or ingest order, and a
    lowest-id sample then sees only the corpus head — measured on the r5
    100k clustered fixture (ids ordered by cluster), the lowest-id sample
    covered 41 of 1000 planted clusters and capped trained-IVF recall at
    0.65 where the unbiased sample's codebook should cover them all. md5
    keeps the sample deterministic AND reproducible by the independent
    DuckDB/Python oracle (hashlib.md5 == Spark md5 on the same string).
    Returns list[list[float]] centroids with ids 0..k-1."""
    rows = (
        vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample)
        .collect()
    )
    return lloyd_kmeans([list(r["_v"]) for r in rows], n_centroids, n_iters=n_iters)


def _nearest_cell_structs(vec, cents):
    """array<struct<c,n>> of (rounded cosine to centroid, -cent_id) — an
    argmax/sort over this array replaces the old crossJoin+Window shuffle:
    the centroids are plan literals, so cell assignment is a pure
    projection inside the scan stage (plan-asserted: no Exchange)."""
    entries = []
    for cid, cv in cents:
        lit = F.array(*[F.lit(float(x)) for x in cv])
        dot = F.aggregate(
            F.zip_with(vec, lit, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cos = F.round(dot / (_norm(vec) * F.lit(_seq_sq_norm(cv))), 6)
        # max struct = (max cosine, then max -cent_id = MIN cent_id): the
        # same tie-break the old row_number(desc cos, asc cent_id) applied
        entries.append(
            F.struct(cos.alias("c"), F.lit(-int(cid)).cast("long").alias("n"))
        )
    return F.array(*entries)


def _round6_half_up(x: "np.ndarray") -> "np.ndarray":
    """6-decimal rounding with Spark's ROUND semantics (HALF_UP, away
    from zero) so the kernel engine's cosine ties match the literal
    engine bit-for-bit; np.round is half-even and can differ on an
    exactly-representable 7th-decimal half."""
    return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5), x) / 1e6


def _assign_cells_arrow(
    df: DataFrame, vec_col: str, cents, nprobe: int
) -> DataFrame:
    """Top-``nprobe`` nearest-centroid cells per row via ``mapInPandas``:
    one float64 matmul per Arrow batch against the (broadcast-serialized)
    normalized codebook. The scale path for LARGE codebooks — the
    plan-literal projection (:func:`_nearest_cell_structs`) inlines
    k×dim literals into the expression tree and stops being viable
    around a few hundred centroids, exactly where a fine-clustered
    corpus needs thousands of cells (the r5 100k/1000-cluster fixture).
    Arrow-batched NumPy, never per-row Python. Ties (r7, ADVICE): the
    engines are exactly interchangeable — ``cos`` is rounded to 6
    decimals with the SAME half-up-away-from-zero rule Spark's
    ``round()`` applies (:func:`_round6_half_up`; np.round's half-even
    could flip an exact 7th-decimal tie), and the stable argsort over
    the ascending-cent_id codebook reproduces the literal engine's
    (c desc, cent_id asc) order. Output: input columns + ``cell``
    (int), one row per (input row, probed cell)."""
    import pandas as pd

    C = np.asarray([cv for _, cv in cents], dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    cids = np.asarray([int(cid) for cid, _ in cents])
    from pyspark.sql import types as T

    # fresh StructType: StructType.add MUTATES (and returns) the receiver,
    # and df.schema hands back a live object — appending to it corrupts
    # the input frame's own column list
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField("cell", T.IntegerType())]
    )
    nprobe = min(nprobe, len(cids))

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            Vn = V / np.maximum(
                np.linalg.norm(V, axis=1, keepdims=True), 1e-12
            )
            cos = _round6_half_up(Vn @ C.T)
            if nprobe == 1:
                out = pdf.copy()
                out["cell"] = cids[cos.argmax(axis=1)].astype("int32")
                yield out
            else:
                top = np.argsort(-cos, axis=1, kind="stable")[:, :nprobe]
                out = pdf.iloc[
                    np.repeat(np.arange(len(pdf)), nprobe)
                ].reset_index(drop=True)
                out["cell"] = cids[top.ravel()].astype("int32")
                yield out

    return df.mapInPandas(gen, schema)


def cosine_topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebook="seed",
    assign_engine: str = "auto",
    train_sample: int = 4096,
) -> DataFrame:
    """Approximate top-k via IVF coarse quantization: assign every vector to
    its nearest centroid cell, probe only each query's ``nprobe`` nearest
    cells, exact cosine re-rank inside them.

    Cell assignment is a single shuffle-free projection: the codebook is
    inlined as plan literals and the nearest centroid is an ``array_max``
    over (cosine, -cent_id) structs — no crossJoin, no Window, no Exchange
    of the corpus (plan-asserted in tests/test_plans.py). Probe cells are a
    sorted-slice over the same struct array on the (small) query side; the
    cell equi-join broadcasts the probes.

    ``codebook``: ``"seed"`` (default) = the vectors with id < n_centroids,
    deterministic without training (oracle-checkable directly);
    ``"kmeans"`` = :func:`train_ivf_codebook` (spherical Lloyd on a
    deterministic sample — still oracle-checkable by inlining the trained
    centroids, see queries.py); or an explicit list of centroid vectors.
    Returns (query_id, vec_id, cosine, rank).

    ``assign_engine`` picks how rows meet the codebook: ``"literal"`` =
    the shuffle-free plan-literal projection above (the contract/oracle
    path; the expression tree carries k×dim literals, viable to a few
    hundred centroids); ``"kernel"`` = :func:`_assign_cells_arrow`
    (Arrow-batched NumPy matmul, the scale path — a 100k/1000-cluster
    corpus needs ~1000 cells, far past what plan literals can carry);
    ``"auto"`` (default) = kernel when the codebook exceeds 64 centroids.
    ``train_sample`` sizes the ``"kmeans"`` training sample — keep it a
    few × n_centroids (the default 4096 is thin for 1000+ cells).
    """
    if codebook == "seed":
        cents = [
            (r["_id"], list(r["_v"]))
            for r in vectors.where(F.col(id_col) < n_centroids)
            .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
            .collect()
        ]
    elif codebook == "kmeans":
        cents = list(
            enumerate(
                train_ivf_codebook(
                    vectors, n_centroids, id_col, vec_col, sample=train_sample
                )
            )
        )
    else:
        cents = list(enumerate(codebook))
    if assign_engine not in ("auto", "literal", "kernel"):
        raise ValueError(
            f"assign_engine must be 'auto', 'literal' or 'kernel', "
            f"got {assign_engine!r}"
        )
    use_kernel = assign_engine == "kernel" or (
        assign_engine == "auto" and len(cents) > 64
    )

    v = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    if use_kernel:
        assigned = _assign_cells_arrow(v, "_v", cents, 1)
        probes = _assign_cells_arrow(q, "_qv", cents, nprobe)
    else:
        structs_v = _nearest_cell_structs(F.col("_v"), cents)
        assigned = v.withColumn("cell", -F.array_max(structs_v).getField("n"))
        # reverse(array_sort) = (cosine desc, cent_id asc) — row_number
        # parity
        structs_q = _nearest_cell_structs(F.col("_qv"), cents)
        probes = (
            q.withColumn(
                "_probe",
                F.explode(
                    F.slice(F.reverse(F.array_sort(structs_q)), 1, nprobe)
                ),
            )
            .withColumn("cell", -F.col("_probe").getField("n"))
            .drop("_probe")
        )
    sim = (
        assigned.join(F.broadcast(probes), "cell")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("_v"), F.col("_qv"))
                / (_norm(F.col("_v")) * _norm(F.col("_qv"))),
                6,
            ),
        )
        .drop("_v", "_qv", "cell")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _sign_bucket_expr(col, planes) -> "F.Column":
    """Sign-bit bucket of ``col`` under a hyperplane matrix (plan literals)."""
    n_planes = planes.shape[0]
    bits = []
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                col,
                F.array(*[F.lit(float(x)) for x in planes[p]]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = F.lit(0)
    for b in bits:
        out = out + b
    return out


def embedding_duplicate_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 6,
    *,
    n_bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via MULTI-BAND hyperplane LSH:
    ``n_bands`` independent plane sets (seeds ``seed+band``); a pair is a
    candidate if it shares a sign bucket in ANY band, then exact cosine ≥
    ``threshold`` verifies it. Returns (id_a, id_b, cosine).

    A single plane set misses near-threshold pairs with non-trivial
    probability (one flipped sign bit breaks the equi-join): with
    cos≈0.95 and n_planes=6, P[all bits agree] ≈ (1-0.101)^6 ≈ 0.53. With
    b independent bands the miss probability is (1-p^r)^b — measured on
    the planted-pair fixture in tests/test_textops.py: 1 band ≈ 0.5
    recall, 4 bands ≈ 0.95+. Oversized (band, bucket) groups are dropped
    (skew cap, documented recall loss — never an OOM); candidates never
    go all-pairs.

    Scale shape: one narrow (vec_id, band, bucket) table is checkpointed
    (n_bands rows/vector, no embedding payload); the self-join carries ids
    only and the vectors join back for verification from a once-
    checkpointed (vec_id, vector) projection.
    """
    base = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")
    ).transform(stage("sim"))
    band_arr = F.array(
        *[
            _sign_bucket_expr(F.col("_v"), _hyperplanes(dim, n_planes, seed + i))
            for i in range(n_bands)
        ]
    )
    # narrow bucket table, materialized once: bucket sizing and both
    # self-join sides consume it
    buckets = (
        base.select("vec_id", F.posexplode(band_arr).alias("band", "bucket"))
        .transform(stage("sim"))
    )
    pairs = banded_self_join(
        buckets, ["band", "bucket"], "vec_id", max_bucket
    ).select("id_a", "id_b")
    va = base.select(F.col("vec_id").alias("id_a"), F.col("_v").alias("_va"))
    vb = base.select(F.col("vec_id").alias("id_b"), F.col("_v").alias("_vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("_va"), F.col("_vb"))
                / (_norm(F.col("_va")) * _norm(F.col("_vb"))),
                6,
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
