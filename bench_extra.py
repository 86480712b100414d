"""Noop-sink isolation bench (guide §1.4) — r8 optimization A/Bs.

NOT the driver bench (bench.py is frozen); this harness times individual
operator variants through the same full-materialization noop write so
before/after numbers in OPTIMIZATION_r08.md are reproducible::

    python bench_extra.py <case> [case ...]

Cases are defined in CASES below; each runs twice and reports (cold, min).
Input: the same deterministic pages table bench.py uses, at
$SPARK_GRAFT_SF_DIR (default sf0.1).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def _pages(spark, sf):
    import bench

    return spark.read.parquet(bench._ensure_pages(spark, sf))


_LINES_CACHE = {}


def _lines_df(spark, sf):
    # built once per session like bench.py (outside the timed rows)
    if sf in _LINES_CACHE:
        return _LINES_CACHE[sf]
    _LINES_CACHE[sf] = _build_lines_df(spark, sf)
    return _LINES_CACHE[sf]


def _build_lines_df(spark, sf):
    from pyspark.sql import functions as F

    pages = _pages(spark, sf)
    return pages.select(
        F.col("url").alias("doc_id"),
        F.expr(
            "array_join(transform(sequence(1, greatest(cast(ceil(size(split(text, ' ')) / 5.0) as int), 1)),"
            " i -> array_join(slice(split(text, ' '), (i-1)*5+1, 5), ' ')), chr(10))"
        ).alias("text"),
    ).localCheckpoint(eager=True)


def _gopher(flavor):
    def run(spark, sf):
        from nativeextractor_spark.textops.lines import gopher_repetition

        _force(
            gopher_repetition(
                _lines_df(spark, sf),
                dup_flavor=flavor,
                assume_unique=True,
            )
        )

    return run


def _curate(span):
    def run(spark, sf):
        from nativeextractor_spark.textops.pipeline import curate_corpus

        out, m = curate_corpus(_lines_df(spark, sf), id_col="doc_id", span_dedup=span)
        return m["n_output"]

    return run


def _line_dedup(spark, sf):
    from nativeextractor_spark.textops.lines import drop_duplicate_lines

    _force(drop_duplicate_lines(_lines_df(spark, sf)))


def _occurrences(spark, sf):
    from nativeextractor_spark.kg.pipeline import default_kg_miners
    from nativeextractor_spark.operators.extract import extract_occurrences

    _force(extract_occurrences(_pages(spark, sf), default_kg_miners()))


def _triples(spark, sf):
    from nativeextractor_spark.kg.pipeline import default_kg_miners
    from nativeextractor_spark.kg.triples import extract_triples

    _force(extract_triples(_pages(spark, sf), default_kg_miners()))


def _glob(pattern):
    def run(spark, sf):
        from nativeextractor_spark.miners import GlobMiner
        from nativeextractor_spark.operators.extract import extract_occurrences

        _force(extract_occurrences(_pages(spark, sf), [GlobMiner(pattern)]))

    return run


def _regex_dfa(spark, sf):
    from nativeextractor_spark.miners.regex_dfa import DfaMiner
    from nativeextractor_spark.operators.extract import extract_occurrences

    miners = [
        DfaMiner("EMAIL", r"[^@ \t\r\n]+@[^@ \t\r\n]+\.[^@ \t\r\n]+"),
        DfaMiner("TEL_NO", r"[+]?[(]?[0-9]{3}[)]?[-\s.]?[0-9]{3}[-\s.]?[0-9]{4,6}"),
    ]
    _force(extract_occurrences(_pages(spark, sf), miners))


def _lsh(skew):
    def run(spark, sf):
        from pyspark.sql import functions as F

        from nativeextractor_spark.textops import lsh_duplicate_pairs

        pages = _pages(spark, sf)
        if not skew:
            _force(
                lsh_duplicate_pairs(
                    pages.select(F.col("url").alias("doc_id"), "text"),
                    num_hashes=4,
                    k=3,
                    hash_flavor="xx64",
                    shingle="word_hash",
                )
            )
            return
        hot = "array_join(transform(sequence(1, 200), i -> concat('hot', i)), ' ')"
        skew_df = pages.select(
            F.col("url").alias("doc_id"),
            F.when(
                F.xxhash64("url") % 10 == 0,
                F.expr(
                    f"concat({hot}, ' ', array_join(slice(split(text, ' '), 1, 5), ' '))"
                ),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        ).localCheckpoint(eager=True)
        _force(
            lsh_duplicate_pairs(
                skew_df,
                num_hashes=8,
                k=3,
                max_bucket=200,
                hash_flavor="xx64",
                shingle="word_hash",
            )
        )

    return run


def _dup_span(spark, sf):
    from pyspark.sql import functions as F

    from nativeextractor_spark.textops.spans import duplicate_span_stats

    _force(
        duplicate_span_stats(
            _pages(spark, sf).select(F.col("url").alias("doc_id"), "text"),
            n_tokens=8,
            assume_unique=True,
        )
    )


CASES = {
    "gopher_kernel": _gopher("count"),
    "gopher_span_kernel": _gopher("span"),
    "curate": _curate(False),
    "curate_span": _curate(True),
    "line_dedup": _line_dedup,
    "occurrences": _occurrences,
    "triples": _triples,
    "glob_star": _glob("s*k"),
    "glob_star_first": _glob("*k"),
    "glob_multi_star": _glob("*i*k*"),
    "regex_dfa": _regex_dfa,
    "dedup_lsh": _lsh(False),
    "skew_lsh": _lsh(True),
    "dup_span_stats": _dup_span,
}


def main():
    import bench
    from bench import _mk_spark, _warm_workers

    sf = bench._sf()
    names = sys.argv[1:] or list(CASES)
    spark = _mk_spark()
    _warm_workers(spark, bench.CPUS)
    out = {}
    for name in names:
        fn = CASES[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        fn(spark, sf)
        cold = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        fn(spark, sf)
        warm = round(time.perf_counter() - t0, 3)
        out[name] = {"cold": cold, "min": min(cold, warm)}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf": sf, "cases": out}))


if __name__ == "__main__":
    main()
