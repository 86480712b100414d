"""Materialization follows the master (``staging.materialize``).

A ``local`` master stages with ``localCheckpoint``; any other master
checkpoints into Spark's checkpoint dir and refuses to run without one.
These tests reach the checkpoint path by making the shared SparkContext
report a cluster master, and prove both paths give the same rows on the
two heaviest composite operators (curate_corpus, canonicalize_surfaces).
"""

import pytest

from nativeextractor_spark import staging


@pytest.fixture
def context(spark, monkeypatch):
    """``context(ckdir)`` makes the shared SparkContext report ``master``
    (default: a cluster master) with ``ckdir`` (None: no dir) as its
    checkpoint dir. Both are restored after the test, so later tests see
    the session as it was."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    set_dir = getattr(jsc, "checkpointDir_$eq")
    before = jsc.getCheckpointDir()

    def switch(ckdir, master="yarn"):
        monkeypatch.setattr(sc, "master", master)
        if ckdir is None:
            set_dir(sc._jvm.scala.Option.apply(None))
        else:
            sc.setCheckpointDir(str(ckdir))

    yield switch
    monkeypatch.undo()
    set_dir(before)


def _has_files(path):
    return any(p.is_file() for p in path.rglob("*"))


def _corpus(spark):
    def good(seed):
        body = " ".join(f"word{seed}x{i}" for i in range(55))
        return body + " the and that have mail x@y.zw done"

    hdr = "shared boilerplate header\n"
    rows = [
        ("a", hdr + good(1)),
        ("b", hdr + good(2)),
        ("c", hdr + good(1)),
        ("d", "junk " * 3),
        ("e", hdr + good(1) + " tail55"),
    ]
    return spark.createDataFrame(rows, "url string, text string")


def _run_curate(spark):
    from nativeextractor_spark.textops.pipeline import curate_corpus

    out, metrics = curate_corpus(
        _corpus(spark), lsh_num_hashes=6, lsh_k=3, lsh_min_shared_bands=2
    )
    return sorted((r.url, r.text) for r in out.collect()), metrics


def _run_canonicalize(spark):
    from nativeextractor_spark.kg.canonicalize import canonicalize_surfaces

    surfaces = spark.createDataFrame(
        [("Acme Corporation",), ("acme corporation",), ("ACME Corporation",),
         ("Globex Industries",), ("globex  industries",), ("Zebra",),
         ("Antonín Dvořák",), ("Antonín Dvořák Jr",)],
        "surface string",
    )
    return sorted(
        (r.surface, r.norm, r.surface_id, r.canonical_id)
        for r in canonicalize_surfaces(surfaces, jaccard_threshold=0.4).collect()
    )


def test_curate_corpus_checkpoint_path_equivalence(spark, context, tmp_path):
    base_rows, base_metrics = _run_curate(spark)
    context(tmp_path)
    rows, metrics = _run_curate(spark)
    assert rows == base_rows
    assert metrics == base_metrics
    assert _has_files(tmp_path)  # the stages were checkpointed there


def test_canonicalize_checkpoint_path_equivalence(spark, context, tmp_path):
    base = _run_canonicalize(spark)
    context(tmp_path)
    assert _run_canonicalize(spark) == base


def test_local_master_ignores_checkpoint_dir(spark, context, tmp_path):
    """A local master keeps localCheckpoint even with a checkpoint dir
    set: nothing is written there."""
    context(tmp_path, master=spark.sparkContext.master)
    out = staging.materialize(spark.range(5).selectExpr("id * 2 as x"), "probe")
    assert sorted(r.x for r in out.collect()) == [0, 2, 4, 6, 8]
    assert not _has_files(tmp_path)


def test_cluster_master_without_checkpoint_dir_raises(spark, context):
    context(None)
    with pytest.raises(RuntimeError, match="'probe'"):
        staging.materialize(spark.range(3), "probe")


def test_canonicalize_without_near_duplicates(spark, context, tmp_path):
    """Nothing is a near-duplicate, so canonicalize's staged edge list is
    empty on the checkpoint path; every surface is its own canonical."""
    from nativeextractor_spark.kg.canonicalize import canonicalize_surfaces

    context(tmp_path)
    surfaces = spark.createDataFrame(
        [("alpha",), ("omega",), ("zebra",)], "surface string"
    )
    rows = canonicalize_surfaces(surfaces).collect()
    assert len(rows) == 3
    assert all(r.canonical_id == r.surface_id for r in rows)


def test_session_restored_after_cluster_tests(spark):
    """Runs after the tests above: the shared context is local again and
    has no checkpoint dir, so materialize takes the local path."""
    sc = spark.sparkContext
    assert sc.master.startswith("local")
    assert sc.getCheckpointDir() is None
