"""End-to-end training-data curation pipeline.

Composes the curation operators in the standard web-corpus order
(CCNet / Gopher / C4 lineage):

1. **filter** — Gopher quality rules + repetition rules (and optionally a
   language allowlist); documents failing any enabled rule set drop out.
   The repetition rules use the FAITHFUL span-union
   ``dup{n}gram_char_frac`` flavor (r5; Rae et al. 2021), whose pass
   rates are comparable to the published Gopher numbers. The
   count-weighted flavor of :func:`textops.lines.gopher_repetition`
   (every overlapping occurrence counts) is an upper bound that can only
   filter MORE aggressively at the paper's unchanged thresholds: on the
   synthetic sf0.01 lines corpus the two happen to agree (144/200 pass
   both — its dup-grams rarely overlap), on real web text with
   overlapping repeats the count flavor over-filters.
2. **exact dedup** — keep the smallest-id document per sha256(text).
3. **line dedup** — C4-style corpus-wide keep-first line removal
   (boilerplate); rewrites the surviving documents' text.
3b. **span dedup** (opt-in, ``span_dedup=True``) — ExactSubstr-style
   all-but-first duplicate-SPAN removal (Lee et al. 2022): duplicated
   token n-gram runs are spliced out even when neither whole documents
   nor whole lines repeat.
4. **near dedup** — MinHash-LSH candidate pairs (token-hash shingles, the
   scale flavor), each pair verified against the exact shingle-set
   Jaccard (default ≥ 0.7, r6 — raw band counting alone chains
   borderline collisions through CC and over-deletes at corpus scale)
   → connected components over the verified pair graph → keep the
   min-id document per near-duplicate cluster. Reuses the KG stage's
   size-adaptive CC operator.
5. **redact** — PII spans (email/URL/telephone miners) replaced by typed
   placeholders.

Every stage is the already-tested operator — this module only wires them
and counts documents in/out, so the pipeline inherits each operator's
plan shape (JVM hot paths, bounded skew, one shuffle per stage class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nativeextractor_spark.staging import stage


def curate_corpus(
    pages: DataFrame,
    text_col: str = "text",
    id_col: str = "url",
    *,
    quality_filter: bool = True,
    repetition_filter: bool = True,
    languages: list[str] | None = None,
    exact_dedup: bool = True,
    line_dedup: bool = True,
    span_dedup: bool = False,
    span_dedup_n_tokens: int = 8,
    near_dedup: bool = True,
    redact: bool = True,
    lsh_num_hashes: int = 8,
    lsh_k: int = 3,
    lsh_min_shared_bands: int = 2,
    lsh_hash_flavor: str = "xx64",
    lsh_shingle: str = "word_hash",
    lsh_max_bucket: int = 200,
    lsh_verify_jaccard: float | None = 0.7,
) -> tuple[DataFrame, dict]:
    """pages(id, text, ...) → (curated(id, text), per-stage metrics dict).

    Metrics record the surviving document count after each enabled stage
    (``n_input`` first). MULTI-consumer stages (the filter chain, exact
    dedup, line dedup) are materialized via :mod:`staging` barriers and
    counted there; the tail stages (near-dedup removal, redact) preserve
    or arithmetically determine the count from small staged frames and
    FLOW into the returned DataFrame unstaged (r6) — the caller's write
    is their single consumer, so staging corpus text there bought no
    reuse, only the write+read round trip (the bulk of the measured 1.6x
    parquet-staging overhead at sf1).
    """
    from nativeextractor_spark.kg.components import connected_components
    from nativeextractor_spark.textops.dedup import (
        dedup_exact,
        lsh_duplicate_pairs,
    )
    from nativeextractor_spark.textops.lines import drop_duplicate_lines
    from nativeextractor_spark.textops.quality import (
        gopher_quality_filters,
        language_id,
    )
    from nativeextractor_spark.textops.lines import gopher_repetition
    from nativeextractor_spark.textops.redact import redact_pii

    from nativeextractor_spark.operators.extract import coalesce_for_kernel

    # merge tiny input splits before the entry collapse's shuffle map side
    # (guide §2.2; bytes-capped no-op at real volumes)
    df = coalesce_for_kernel(
        pages.select(
            F.col(id_col).cast("string").alias("_id"),
            F.col(text_col).alias("_text"),
        )
    )
    # ids must be unique from here on (every later stage rejoins keeper ids
    # back to the corpus — duplicate ids would MULTIPLY rows through those
    # joins): keep the deterministic min text per id. Count BEFORE the
    # collapse so n_input reflects real input volume; n_distinct_ids
    # surfaces id collisions instead of hiding the silent min-text pick
    # (ADVICE r3).
    collapsed = df.groupBy("_id").agg(
        F.min("_text").alias("_text"), F.count("*").alias("_c")
    ).transform(stage("curate"))
    # AQE sizes the collapse shuffle's output partitions by BYTES, but the
    # downstream repetition rules are CPU-dense zero-shuffle per-row folds
    # (~ms/KB, orders of magnitude more CPU per byte than relational ops)
    # that INHERIT this layout — on a small corpus AQE happily coalesces
    # to 1 partition and the whole filter stage runs on one core (r6:
    # observed 60x+ slowdown at sf0.1). Floor the parallelism when the
    # materialized layout is degenerate; at real data volumes AQE already
    # yields >= hundreds of partitions and this never triggers.
    floor = min(
        collapsed.sparkSession.sparkContext.defaultParallelism, 200
    )
    if collapsed.rdd.getNumPartitions() < floor:
        collapsed = collapsed.repartition(floor, "_id").transform(
            stage("curate")
        )
    counts = collapsed.agg(
        F.sum("_c").alias("rows"), F.count("*").alias("ids")
    ).collect()[0]
    df = collapsed.drop("_c")
    metrics: dict[str, int] = {
        "n_input": int(counts["rows"] or 0),
        "n_distinct_ids": int(counts["ids"]),
    }

    if quality_filter or repetition_filter or languages:
        keep = None
        if quality_filter and repetition_filter:
            # r8: both rule sets in ONE Arrow kernel pass over the corpus
            # (one boundary crossing, one keep-join) — semantics identical
            # to the separate operators (same tokenization and IEEE ratio
            # comparisons; the standalone operators and the stage-by-stage
            # curate oracle are unchanged)
            from nativeextractor_spark.textops.lines import (
                gopher_filter_keep_kernel,
            )

            keep = gopher_filter_keep_kernel(df, "_text", "_id", "span").select(
                F.col("doc_id").alias("_id")
            )
        elif quality_filter:
            q = gopher_quality_filters(df, text_col="_text", id_col="_id")
            keep = q.where("gopher_pass").select(F.col("doc_id").alias("_id"))
        if repetition_filter and keep is None:
            # the paper-faithful span-union dup-gram rule (module docstring).
            # Staged before filtering: the filter and the keep-join then
            # read the small materialized per-doc metrics frame.
            r = gopher_repetition(
                df,
                text_col="_text",
                id_col="_id",
                dup_flavor="span",
                assume_unique=True,  # ids collapsed at pipeline entry
            ).transform(stage("curate-repetition"))
            rk = r.where("repetition_pass").select(F.col("doc_id").alias("_id"))
            keep = rk if keep is None else keep.join(rk, "_id")
        if languages:
            l = language_id(df, text_col="_text", id_col="_id")
            lk = l.where(F.col("lang_pred").isin(languages)).select(
                F.col("doc_id").alias("_id")
            )
            keep = lk if keep is None else keep.join(lk, "_id")
        # checkpoint BEFORE counting: the count and every later stage then
        # read the materialized result instead of re-running the filter
        # chain (the 9-way n-gram aggregate is the pipeline's heaviest op)
        df = df.join(keep, "_id").transform(stage("curate"))
        metrics["after_filters"] = df.count()
    else:
        # multi-consumer from here on (dedup stages each scan df twice)
        df = df.transform(stage("curate"))

    if exact_dedup:
        keepers = dedup_exact(df, text_col="_text", id_col="_id").select(
            F.col("doc_id").alias("_id")
        )
        df = df.join(keepers, "_id").transform(stage("curate"))
        metrics["after_exact_dedup"] = df.count()

    if line_dedup:
        df = drop_duplicate_lines(df, text_col="_text", id_col="_id").select(
            F.col("doc_id").alias("_id"), F.col("text").alias("_text")
        ).transform(stage("curate"))
        metrics["after_line_dedup"] = df.count()

    if span_dedup:
        # ExactSubstr-style all-but-first duplicate-span removal (Lee et
        # al. 2022) — opt-in: strictly stronger than line dedup, one extra
        # corpus-wide gram-count shuffle; documents are kept (possibly
        # shortened), so the metric counts removed characters instead
        from nativeextractor_spark.textops.spans import remove_duplicate_spans

        df = remove_duplicate_spans(
            df,
            text_col="_text",
            id_col="_id",
            n_tokens=span_dedup_n_tokens,
            # ids were collapsed at pipeline entry — skip the defensive
            # full-corpus collapse shuffle (r4 review 2)
            assume_unique=True,
        ).select(
            F.col("doc_id").alias("_id"),
            F.col("text").alias("_text"),
            "n_removed_chars",
        ).transform(stage("curate"))
        metrics["span_dedup_removed_chars"] = int(
            df.agg(F.sum("n_removed_chars")).collect()[0][0] or 0
        )
        df = df.drop("n_removed_chars")

    # document count of the CURRENT df — maintained so the tail stages
    # (near-dedup removal, redact) can report exact counts from SMALL
    # staged frames instead of forcing a corpus-sized barrier each (r6:
    # under the former parquet staging at sf1, those two corpus text
    # write+read round trips were the bulk of its measured 1.6x overhead;
    # both tail stages are single-consumer, so the corpus frames now
    # FLOW into the caller's write)
    cur_count = metrics[
        [k for k in (
            "after_line_dedup", "after_exact_dedup", "after_filters",
            "n_distinct_ids",
        ) if k in metrics][0]
    ]

    if near_dedup:
        pairs = lsh_duplicate_pairs(
            df,
            text_col="_text",
            id_col="_id",
            num_hashes=lsh_num_hashes,
            k=lsh_k,
            min_shared_bands=lsh_min_shared_bands,
            hash_flavor=lsh_hash_flavor,
            shingle=lsh_shingle,
            max_bucket=lsh_max_bucket,
            # exact-Jaccard pair verification, ON by default since r6
            # (threshold 0.7, the standard MinHash-dedup operating point):
            # shared-band counting alone lets borderline collisions
            # between genuinely-distinct docs chain transitively through
            # CC at corpus scale — measured 36% of distinct synthetic
            # pages over-dropped at sf1 under the unverified r5 defaults
            # (BENCH/BASELINE.md). Set None to restore the raw
            # band-counting edges (the r4/r5 behavior).
            verify_jaccard=lsh_verify_jaccard,
        )
        edges = pairs.select(
            F.xxhash64("doc_a").alias("u"), F.xxhash64("doc_b").alias("v")
        ).transform(stage("curate"))
        if edges.isEmpty():
            metrics["after_near_dedup"] = cur_count
        else:
            comps = connected_components(edges)
            # keep the min ORIGINAL id per cluster: map hashed node back by
            # joining on the id hash, pick min id per component, and stage
            # only the SMALL frame of ids to REMOVE (cluster members minus
            # keepers). The corpus-sized result is then ONE broadcast-able
            # anti join away and flows to the next stage unstaged — the
            # r5 shape staged the whole post-dedup corpus just to count
            # it; the count is exactly cur_count - |drop_ids|.
            hashed = df.select("_id", F.xxhash64("_id").alias("_h"))
            clustered = hashed.join(
                comps, hashed["_h"] == comps["node"]
            ).select("_id", "component")
            keep_ids = clustered.groupBy("component").agg(
                F.min("_id").alias("_id")
            ).select("_id")
            drop_ids = clustered.select("_id").join(
                keep_ids, "_id", "left_anti"
            ).transform(stage("curate-drop-ids"))
            df = df.join(drop_ids, "_id", "left_anti")
            cur_count -= drop_ids.count()
            metrics["after_near_dedup"] = cur_count

    if redact:
        # redact is a projection-shaped single-scan map that preserves the
        # row count, and the caller's write is its only consumer — it
        # flows (no barrier, r6); n_output needs no corpus scan
        df = redact_pii(df, text_col="_text", key_col="_id").select(
            F.col("_id"), F.col("text").alias("_text")
        )
    metrics["n_output"] = cur_count

    return (
        df.select(F.col("_id").alias(id_col), F.col("_text").alias(text_col)),
        metrics,
    )
