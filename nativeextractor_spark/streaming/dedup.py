"""Streaming corpus curation: cross-micro-batch exact deduplication.

The batch operators in :mod:`nativeextractor_spark.textops` are stateless
per document (quality scores, language id, fingerprints, redaction) and
run on a streaming DataFrame unchanged. Exact dedup is the one curation
stage that needs STATE — a document seen in micro-batch 1 must suppress
its duplicate arriving in micro-batch 400. Spark's streaming
deduplication operator carries that state in the checkpoint, so the
guarantee survives restarts (the streaming analogue of the batch
``dedup_exact`` keep-first rule).

State sizing at scale: one row per distinct digest, forever, unless a
watermark bounds it — pass ``watermark=("ts_col", "N hours")`` to use
``dropDuplicatesWithinWatermark`` (duplicates are only suppressed within
the watermark window; state is purged past it). Unbounded mode is exact
but its state grows with the distinct corpus — at 10^12 documents use
the watermark, or periodic batch re-dedup downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nativeextractor_spark.staging import stage

#: Explicit schema of the durable band-state table. Pinned so state reads
#: never depend on parquet schema inference — a directory that exists but
#: has no data files yet (crashed first write) reads as an EMPTY frame
#: instead of raising UNABLE_TO_INFER_SCHEMA, and a genuinely corrupt
#: state table still fails loudly on the data files themselves.
BAND_STATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("min_hash", T.LongType()),
        T.StructField("batch_id", T.LongType()),
    ]
)

#: The current on-disk layout of the band-state table, version-stamped in
#: a ``_ne_state_layout.json`` marker inside the table directory (ADVICE
#: r5 medium: an un-stamped layout change silently loses state — merge
#: touched-bucket reads + dynamic partition overwrite assume every
#: existing row sits in the partition the CURRENT key hash says it does).
#: History: v1 (r4) keyed (doc_id, band), no batch stamp; v2 (r5) keyed
#: (doc_id, band, batch_id), bucketed by the identity keys; v3 (r6) same
#: keys, bucketed by (band, min_hash) so per-batch state reads prune to
#: the micro-batch's buckets instead of scanning the whole table.
BAND_STATE_LAYOUT = {
    "version": 3,
    "keys": ["doc_id", "band", "batch_id"],
    "bucket_cols": ["band", "min_hash"],
}
_LAYOUT_FILE = "_ne_state_layout.json"
#: suffixes a crash inside a table swap/migration can leave behind
_SWAP_SUFFIXES = (".compact", ".migrate", ".old")


def _layout_path(state_path: str) -> str:
    return state_path.rstrip("/") + "/" + _LAYOUT_FILE


def _read_layout(spark: SparkSession, state_path: str) -> dict | None:
    import json

    from nativeextractor_spark.kg.graph import _fs_read_text

    raw = _fs_read_text(spark, _layout_path(state_path))
    return None if raw is None else json.loads(raw)


def _stamp_layout(spark: SparkSession, state_path: str) -> None:
    import json

    from nativeextractor_spark.kg.graph import _fs_write_text

    _fs_write_text(spark, _layout_path(state_path), json.dumps(BAND_STATE_LAYOUT))


def _swap_state_table(spark: SparkSession, state_path: str, tmp_path: str) -> None:
    """Replace the live table with ``tmp_path`` via rename-ASIDE (ADVICE
    r5: delete-then-rename left a window where the live path was simply
    absent — which :func:`_read_band_state` would classify as
    never-written, silently restarting dedup from empty state). Order:
    live → ``.old``, tmp → live, delete ``.old``. A crash at any point
    leaves either the live table intact or a DETECTABLE leftover that
    makes reads raise instead of misclassifying."""
    from nativeextractor_spark.kg.graph import _hadoop_fs

    old_path = state_path.rstrip("/") + ".old"
    fs, jstate = _hadoop_fs(spark, state_path)
    _, jold = _hadoop_fs(spark, old_path)
    _, jtmp = _hadoop_fs(spark, tmp_path)
    if fs.exists(jold):
        # leftover of a crash AFTER the tmp→live rename (the live table
        # exists, or the caller's read would have raised already)
        fs.delete(jold, True)
    if not fs.rename(jstate, jold):
        raise IOError(f"rename {state_path} -> {old_path} failed")
    if not fs.rename(jtmp, jstate):
        raise IOError(
            f"rename {tmp_path} -> {state_path} failed; previous state "
            f"preserved at {old_path} — rename it back to recover"
        )
    fs.delete(jold, True)


def _ensure_band_state_layout(spark: SparkSession, state_path: str) -> None:
    """Detect a band-state table written under an OLDER layout and migrate
    it before any merge touches it. Without this, the first merge under
    new keys/buckets re-reads only the buckets the NEW hash says are
    touched and dynamic partition overwrite rewrites partitions holding
    unread old-layout rows — silently deleting dedup state on upgrade."""
    from nativeextractor_spark.kg.graph import _fs_exists

    if not _fs_exists(spark, state_path):
        return
    if _read_layout(spark, state_path) == BAND_STATE_LAYOUT:
        return
    migrate_band_state(spark, state_path)


def migrate_band_state(spark: SparkSession, state_path: str) -> dict:
    """One-time full read-and-rewrite of a band-state table into the
    current :data:`BAND_STATE_LAYOUT`. Handles every prior layout: a v1
    (r4) table gains ``batch_id = -1`` (always older than any real batch,
    so the ``batch_id < N`` match filter keeps seeing its rows; the next
    compaction collapses per-doc generations normally), and v1/v2 rows are
    re-bucketed under the v3 (band, min_hash) partition hash. The swap is
    the crash-safe rename-aside (:func:`_swap_state_table`). Returns
    ``{"rows": n}``."""
    from pyspark.sql.utils import AnalysisException

    from nativeextractor_spark.kg.graph import _fs_exists, _hadoop_fs, merge_into

    if not _fs_exists(spark, state_path):
        # ADVICE r6: this is a public recovery-time entry point — an
        # ABSENT live table next to an interrupted-swap leftover must
        # raise (stamping would create the directory and neutralize the
        # _read_band_state leftover guard, silently restarting dedup
        # from empty state), mirroring _read_band_state
        for suffix in _SWAP_SUFFIXES:
            leftover = state_path.rstrip("/") + suffix
            if _fs_exists(spark, leftover):
                raise RuntimeError(
                    f"band-state table missing at {state_path} but an "
                    f"interrupted swap left {leftover} — refusing to "
                    "migrate/stamp an empty table over it. Recover by "
                    f"renaming the leftover back to {state_path}."
                )
    try:
        df = spark.read.parquet(state_path)
    except AnalysisException:
        # directory exists but holds no data files (crashed first write):
        # nothing to migrate — stamp and move on
        _stamp_layout(spark, state_path)
        return {"rows": 0}
    if "batch_id" not in df.columns:
        df = df.withColumn("batch_id", F.lit(-1).cast("long"))
    # no localCheckpoint (ADVICE r6): pinning a corpus-lifetime state
    # table in executor local storage defeats the bounded-memory design;
    # the live table stays untouched until the post-write swap, so the
    # count and the rewrite may each scan it independently
    df = df.select(
        *[F.col(f.name).cast(f.dataType) for f in BAND_STATE_SCHEMA]
    )
    rows = df.count()
    tmp_path = state_path.rstrip("/") + ".migrate"
    fs, jtmp = _hadoop_fs(spark, tmp_path)
    if fs.exists(jtmp):
        fs.delete(jtmp, True)
    merge_into(
        df,
        tmp_path,
        keys=BAND_STATE_LAYOUT["keys"],
        bucket_cols=BAND_STATE_LAYOUT["bucket_cols"],
    )
    _swap_state_table(spark, state_path, tmp_path)
    _stamp_layout(spark, state_path)
    return {"rows": rows}


def _existing_buckets(
    spark: SparkSession, state_path: str, touched: set[int]
) -> list[int]:
    """The subset of ``touched`` bucket ids whose ``_bucket=`` directory
    exists — one existence probe per touched bucket, no directory
    listing (per-batch filesystem work stays bounded by the batch's
    bucket spread even on a corpus-lifetime state table)."""
    from nativeextractor_spark.kg.graph import _fs_exists

    return sorted(
        b
        for b in touched
        if _fs_exists(spark, f"{state_path.rstrip('/')}/_bucket={b}")
    )


def _read_band_state(
    spark: SparkSession,
    state_path: str,
    prune_bands: DataFrame | None = None,
) -> DataFrame | None:
    """Band-state table at ``state_path``, or None when it has never been
    written. 'Never written' is decided by an explicit FileSystem existence
    check — NOT by classifying reader error messages, which is
    Spark-version-fragile and can misread a corrupt-but-existing table as
    first-batch-clean (silently disabling cross-batch matching). Any error
    from reading an EXISTING path propagates and fails the batch; an
    ABSENT path with an interrupted-swap leftover next to it raises
    instead of reading as never-written (ADVICE r5).

    ``prune_bands`` (a frame with ``band``/``min_hash`` columns — the
    micro-batch's band table) enables BUCKET-PRUNED reads on a current-
    layout table: only the ``_bucket=`` partitions the batch's
    (band, min_hash) values hash to are scanned, so per-batch read cost
    is bounded by the batch's bucket spread (≤ min(batch_bands, 256)
    partitions), not by corpus lifetime. Rows outside those buckets
    cannot equi-join the batch on (band, min_hash) — same results as the
    full scan by construction."""
    from nativeextractor_spark.kg.graph import N_BUCKETS, _fs_exists

    if not _fs_exists(spark, state_path):
        for suffix in _SWAP_SUFFIXES:
            leftover = state_path.rstrip("/") + suffix
            if _fs_exists(spark, leftover):
                raise RuntimeError(
                    f"band-state table missing at {state_path} but an "
                    f"interrupted swap left {leftover} — refusing to treat "
                    "the state as never-written (that would silently "
                    "restart dedup from empty). Recover by renaming the "
                    f"leftover back to {state_path}."
                )
        return None
    names = [f.name for f in BAND_STATE_SCHEMA]
    if (
        prune_bands is not None
        and _read_layout(spark, state_path) == BAND_STATE_LAYOUT
    ):
        bcols = BAND_STATE_LAYOUT["bucket_cols"]
        bucket = F.pmod(F.xxhash64(*bcols), F.lit(N_BUCKETS)).cast("int")
        # bounded collect: at most N_BUCKETS distinct values
        touched = {
            r[0]
            for r in prune_bands.select(bucket.alias("_b")).distinct().collect()
        }
        # r7 (TODO #5): filesystem work is bounded by the TOUCHED bucket
        # count — each touched bucket dir is existence-probed directly
        # instead of listing the whole state directory (whose width is
        # corpus-lifetime N_BUCKETS regardless of batch size)
        readable = _existing_buckets(spark, state_path, touched)
        if not readable:
            return spark.createDataFrame([], BAND_STATE_SCHEMA)
        return (
            spark.read.option("basePath", state_path)
            .schema(BAND_STATE_SCHEMA)
            .parquet(*[f"{state_path}/_bucket={b}" for b in readable])
            .select(*names)
        )
    # full scan: compaction/migration consumers, or a pre-v3 table a
    # caller reads without ensuring the layout first
    return (
        spark.read.schema(BAND_STATE_SCHEMA)
        .parquet(state_path)
        .select(*names)
    )


def dedup_stream_exact(
    pages_stream: DataFrame,
    text_col: str = "text",
    watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """Streaming pages → streaming pages with exact-duplicate texts
    suppressed across micro-batches (first arrival wins; state in the
    checkpoint). ``watermark=(event_time_col, delay)`` bounds the state
    to the watermark window."""
    if not pages_stream.isStreaming:
        raise ValueError(
            "dedup_stream_exact expects a streaming DataFrame (readStream)"
        )
    key = "_ne_dedup_sha"
    if key in pages_stream.columns:
        raise ValueError(f"input stream already has a {key!r} column")
    # NULL text hashes to NULL (not coalesced to ''): dropDuplicates groups
    # NULL keys together, so NULL-text docs dedup among THEMSELVES and
    # never against empty-string docs — the same grouping the batch
    # dedup_exact's groupBy(sha2(text)) produces
    hashed = pages_stream.withColumn(key, F.sha2(F.col(text_col), 256))
    if watermark is not None:
        col, delay = watermark
        out = hashed.withWatermark(col, delay).dropDuplicatesWithinWatermark(
            [key]
        )
    else:
        out = hashed.dropDuplicates([key])
    return out.drop(key)


def dedup_stream_near(
    pages_stream: DataFrame,
    out_path: str,
    state_path: str,
    checkpoint_dir: str,
    id_col: str = "url",
    text_col: str = "text",
    num_hashes: int = 8,
    k: int = 3,
    min_shared_bands: int = 2,
):
    """Streaming NEAR-duplicate suppression across micro-batches (r4).

    A document arriving in micro-batch N is suppressed when its MinHash
    band signature shares >= ``min_shared_bands`` bands with one canonical
    document — either a survivor of an earlier batch (cross-batch, via the
    durable band-state table at ``state_path``) or a smaller-id member of
    its own batch (within-batch, MinHash-LSH pairs + connected components
    keep-min, the same rule as the batch ``curate_corpus`` stage).

    Restart safety: the sink is a ``foreachBatch`` whose two writes are
    both idempotent ``merge_into`` upserts (survivors keyed on the doc id,
    band state keyed on (doc_id, band, batch_id)); each batch only
    matches against state rows with ``batch_id < N``, and because state
    keys are batch-stamped, no batch can overwrite an earlier batch's
    rows — a replay of batch N sees exactly the state its first attempt
    saw, never the partial rows that attempt wrote before failing.

    State sizing at scale: ``num_hashes`` rows per SURVIVOR per batch it
    survives with distinct text — suppressed documents contribute
    nothing, and matching is always against canonical representatives
    only (near-duplication is not chained transitively across suppressed
    docs, the standard streaming trade). Run
    :func:`compact_band_state` out of band (stream stopped cleanly) to
    collapse a doc's band generations to the latest and to TTL docs not
    re-confirmed since a batch horizon. Returns a DataStreamWriter
    (availableNow trigger) — call ``.start()``.
    """
    if not pages_stream.isStreaming:
        raise ValueError(
            "dedup_stream_near expects a streaming DataFrame (readStream)"
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from nativeextractor_spark.kg.components import connected_components
        from nativeextractor_spark.kg.graph import merge_into
        from nativeextractor_spark.kg.skew import banded_self_join
        from nativeextractor_spark.textops.dedup import minhash_bands

        spark = batch_df.sparkSession
        docs = (
            batch_df.select(
                F.col(id_col).cast("string").alias("_id"),
                F.col(text_col).alias("_text"),
            )
            .groupBy("_id")
            .agg(F.min("_text").alias("_text"))
            .transform(stage("sdedup"))
        )
        if docs.isEmpty():
            return
        bands = minhash_bands(
            docs,
            text_col="_text",
            id_col="_id",
            num_hashes=num_hashes,
            k=k,
            hash_flavor="xx64",
            shingle="word_hash",
        ).transform(stage("sdedup"))

        drops = None
        # cross-batch: match against canonical survivors of EARLIER
        # batches. ONLY a never-written state table (explicit existence
        # check) maps to prior=None — any error reading an existing table
        # must propagate and fail the batch (a swallowed error would
        # silently run with cross-batch matching OFF, admitting
        # near-duplicates into the canonical set forever). The read is
        # BUCKET-PRUNED to the batch's (band, min_hash) buckets (r6) —
        # per-batch read cost is bounded by batch size, not by how long
        # the stream has been running; an older-layout table is migrated
        # once before anything touches it (ADVICE r5 medium).
        _ensure_band_state_layout(spark, state_path)
        prior = _read_band_state(spark, state_path, prune_bands=bands)
        if prior is not None:
            prior = prior.where(F.col("batch_id") < F.lit(batch_id))
        if prior is not None:
            drops = (
                bands.join(
                    prior.select(
                        F.col("doc_id").alias("_pid"), "band", "min_hash"
                    ),
                    ["band", "min_hash"],
                )
                .groupBy("doc_id", "_pid")
                .agg(F.countDistinct("band").alias("_nb"))
                .where(F.col("_nb") >= min_shared_bands)
                .select(F.col("doc_id").alias("_id"))
                .distinct()
            )
        # within-batch: LSH pairs -> connected components -> keep min id.
        # The pairs come from the staged band table above (the batch LSH
        # pair rule at its default max_bucket=200), so the micro-batch is
        # shingled once
        pairs = banded_self_join(
            bands, ["band", "min_hash"], "doc_id", max_bucket=200
        ).where(F.col("n_shared") >= min_shared_bands)
        edges = pairs.select(
            F.xxhash64("id_a").alias("u"), F.xxhash64("id_b").alias("v")
        ).transform(stage("sdedup"))
        if not edges.isEmpty():
            comps = connected_components(edges)
            hashed = docs.select("_id", F.xxhash64("_id").alias("_h"))
            clustered = hashed.join(comps, hashed["_h"] == comps["node"]).select(
                "_id", "component"
            )
            keep_ids = clustered.groupBy("component").agg(
                F.min("_id").alias("_id")
            ).select("_id")
            batch_drop = clustered.select("_id").join(
                keep_ids, "_id", "left_anti"
            )
            drops = (
                batch_drop
                if drops is None
                else drops.unionByName(batch_drop).distinct()
            )
        survivors = (
            docs if drops is None else docs.join(drops, "_id", "left_anti")
        ).transform(stage("sdedup"))
        merge_into(
            survivors.select(
                F.col("_id").alias(id_col), F.col("_text").alias(text_col)
            ),
            out_path,
            keys=[id_col],
        )
        # state rows are keyed on (doc_id, band, batch_id) — APPEND-shaped
        # across batches, idempotent within a replayed batch. Keying on
        # (doc_id, band) alone would let a re-arriving survivor (same id,
        # changed text) OVERWRITE its earlier-batch rows with batch_id=N;
        # a crash after that merge but before the checkpoint commit would
        # then replay batch N against state missing those rows (the
        # batch_id < N filter no longer sees them), changing suppression
        # decisions mid-replay. Batch-stamped keys make replays read
        # exactly the pre-attempt state. Cost: a doc that survives k times
        # with changed text holds k band generations until
        # compact_band_state collapses them (stale generations only
        # OVER-match — a conservative, documented trade).
        surviving_bands = bands.join(
            survivors.select(F.col("_id").alias("doc_id")), "doc_id"
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        # bucketed by (band, min_hash) — the columns the next batch's
        # pruned read probes on; safe as non-key bucket cols because a
        # replayed batch recomputes byte-identical rows (see merge_into)
        merge_into(
            surviving_bands,
            state_path,
            keys=BAND_STATE_LAYOUT["keys"],
            bucket_cols=BAND_STATE_LAYOUT["bucket_cols"],
        )
        _stamp_layout(spark, state_path)

    return (
        pages_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def compact_band_state(
    spark: SparkSession,
    state_path: str,
    drop_before_batch: int | None = None,
) -> dict:
    """Out-of-band maintenance for the :func:`dedup_stream_near` band
    state: collapse each (doc_id, band) to its LATEST batch generation,
    and optionally TTL out whole documents whose newest state row is
    older than ``drop_before_batch`` (dropping a doc re-admits future
    near-duplicates of it — the standard TTL trade; bands are always
    dropped per-doc, never individually, so matching strength stays
    uniform).

    Run ONLY while the stream is stopped after a clean run (no pending
    micro-batch to replay): compaction keeps the max-batch_id row per
    key, and if an uncommitted batch N wrote rows before a crash,
    keeping its rows while dropping the pre-N generation would change
    what a replay of N sees. After compaction the surviving rows keep
    their original batch_id stamps, so the next batch's
    ``batch_id < N`` filter still sees all of them (new batch ids only
    grow). State size after compaction: exactly ``num_hashes`` rows per
    retained canonical doc — the bound the per-batch state lacked.

    Returns ``{"rows_before": n, "rows_after": m, "docs_dropped": k}``.
    """
    _ensure_band_state_layout(spark, state_path)
    state = _read_band_state(spark, state_path)
    if state is None:
        return {"rows_before": 0, "rows_after": 0, "docs_dropped": 0}
    # no localCheckpoint (ADVICE r6, as in migrate_band_state): the live
    # table is static until the swap, so re-derivation is deterministic
    # and memory stays bounded; maintenance trades a few extra scans
    rows_before = state.count()
    latest = state.groupBy("doc_id").agg(
        F.max("batch_id").alias("_latest_batch")
    )
    docs_dropped = 0
    if drop_before_batch is not None:
        dropped = latest.where(F.col("_latest_batch") < F.lit(drop_before_batch))
        docs_dropped = dropped.count()
        latest = latest.where(F.col("_latest_batch") >= F.lit(drop_before_batch))
    compacted = (
        state.join(latest, "doc_id")
        .where(F.col("batch_id") == F.col("_latest_batch"))
        .select("doc_id", "band", "min_hash", "batch_id")
    )
    rows_after = compacted.count()
    # swap via the Hadoop FS (works for file:/hdfs:/s3a:): write the
    # compacted table fresh next to the live one, then rename-ASIDE swap
    # (ADVICE r5: the old delete-then-rename left a crash window where the
    # live path was absent and read as never-written; now any crash
    # leaves either the live table or a leftover reads detect and raise
    # on — see _swap_state_table).
    from nativeextractor_spark.kg.graph import _hadoop_fs, merge_into

    tmp_path = state_path.rstrip("/") + ".compact"
    fs, jtmp = _hadoop_fs(spark, tmp_path)
    if fs.exists(jtmp):
        fs.delete(jtmp, True)
    merge_into(
        compacted,
        tmp_path,
        keys=BAND_STATE_LAYOUT["keys"],
        bucket_cols=BAND_STATE_LAYOUT["bucket_cols"],
    )
    _swap_state_table(spark, state_path, tmp_path)
    _stamp_layout(spark, state_path)
    return {
        "rows_before": rows_before,
        "rows_after": rows_after,
        "docs_dropped": docs_dropped,
    }
