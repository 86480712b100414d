"""Full pipeline + checkpoint/resume + idempotent MERGE tests."""

import json
import os

import pytest
from pyspark.sql import functions as F

from nativeextractor_spark.datagen import build_alias_df, generate_pages_df
from nativeextractor_spark.kg import run_pipeline
from nativeextractor_spark.kg.graph import _fs_write_text, merge_into
from nativeextractor_spark.kg.pipeline import materialize_graph
from nativeextractor_spark.staging import resume_or_run


@pytest.fixture(scope="module")
def small_pages(spark):
    return generate_pages_df(spark, n_pages=60).cache()


def test_pipeline_end_to_end(spark, small_pages, tmp_path_factory):
    out = run_pipeline(spark, small_pages)
    occ = out["occurrences"]
    assert occ.count() > 0
    labels = {r.label for r in occ.select("label").distinct().collect()}
    assert "NER" in labels and "EMAIL" in labels
    triples = out["triples"]
    assert triples.count() > 0
    nodes, edges = out["nodes"], out["edges"]
    assert nodes.count() > 0 and edges.count() > 0
    # every edge endpoint resolves to a node
    n_ids = {r.entity_id for r in nodes.collect()}
    for r in edges.limit(50).collect():
        assert r.src in n_ids and r.dst in n_ids

    root = str(tmp_path_factory.mktemp("graph"))
    materialize_graph(nodes, edges, root)
    n1 = spark.read.parquet(f"{root}/nodes").count()
    # MERGE is idempotent: re-materializing the same data changes nothing
    materialize_graph(nodes, edges, root)
    assert spark.read.parquet(f"{root}/nodes").count() == n1


def test_pipeline_checkpoint_stages_and_resume(spark, small_pages, tmp_path_factory):
    """Under a checkpoint root every stage the pipeline returns is written
    once under its own name (and nothing else is), and a rerun with the
    same input signature resumes from the manifests without rewriting
    them."""
    root = str(tmp_path_factory.mktemp("pipeline_ck"))
    out = run_pipeline(spark, small_pages, checkpoint_root=root, input_sig="p60")
    assert sorted(os.listdir(root)) == sorted(out)

    def manifest_mtimes():
        return {
            s: os.stat(os.path.join(root, s, "manifest.json")).st_mtime_ns
            for s in out
        }

    written = manifest_mtimes()
    edges = sorted(map(tuple, out["edges"].collect()))
    assert edges
    again = run_pipeline(spark, small_pages, checkpoint_root=root, input_sig="p60")
    assert manifest_mtimes() == written
    assert sorted(map(tuple, again["edges"].collect())) == edges


def test_merge_into_upsert(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("merge")) + "/t"
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    merge_into(df1, path, keys=["k"])
    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    merge_into(df2, path, keys=["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(path).select("k", "v").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def _manifest(root, name):
    with open(os.path.join(root, name, "manifest.json")) as f:
        return json.load(f)


def test_checkpoint_resume(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ck"))
    calls = []

    def compute():
        calls.append(1)
        return spark.range(5).withColumn("x", F.col("id") * 2)

    df1 = resume_or_run(root, "stage1", {"p": 1}, "sig-a", compute)
    assert df1.count() == 5 and len(calls) == 1
    # same signature → resume from checkpoint, no recompute
    df2 = resume_or_run(root, "stage1", {"p": 1}, "sig-a", compute)
    assert df2.count() == 5 and len(calls) == 1
    # changed config → recompute
    resume_or_run(root, "stage1", {"p": 2}, "sig-a", compute)
    assert len(calls) == 2
    # the manifest carries per-partition counts that sum to its rows
    manifest = _manifest(root, "stage1")
    lineage = manifest["lineage"]
    assert manifest["rows"] == 5
    assert sum(p["row_count"] for p in lineage) == 5
    assert all(set(p) == {"partition_id", "row_count"} for p in lineage)


def test_checkpoint_empty_stage_and_stale_manifest(spark, tmp_path_factory):
    """A 0-row stage saves and resumes with its column names and types; a
    manifest without rows/schema/lineage (the earlier layout) is
    recomputed, not half-read."""
    root = str(tmp_path_factory.mktemp("ck_empty"))
    calls = []

    def empty():
        calls.append(1)
        return spark.range(10).selectExpr(
            "id as u", "cast(id as string) as s", "array(id, id) as arr"
        ).where("u < 0")

    def types(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    saved = resume_or_run(root, "empty", {}, "sig", empty)
    resumed = resume_or_run(root, "empty", {}, "sig", empty)
    assert len(calls) == 1
    assert saved.count() == resumed.count() == 0
    assert types(saved) == types(resumed) == types(empty())
    manifest = _manifest(root, "empty")
    assert manifest["rows"] == 0
    assert sum(p["row_count"] for p in manifest["lineage"]) == 0

    # the earlier layout: same signature, no schema and no lineage (written
    # through Hadoop FS, which keeps the local file's checksum in step)
    old = {k: manifest[k] for k in ("stage", "signature", "config", "input")}
    old["rows"] = 0
    path = os.path.join(root, "empty", "manifest.json")
    _fs_write_text(spark, path, json.dumps(old))
    calls.clear()
    resume_or_run(root, "empty", {}, "sig", empty)
    assert len(calls) == 1
    assert "lineage" in _manifest(root, "empty")


def test_checkpoint_save_and_resume_job_counts(spark, tmp_path_factory):
    """A save is one write plus the lineage count (its shuffle map stage
    and result): the row count is observed on the write and the read-back
    infers no schema. A resume reads with the manifest schema: no job."""
    root = str(tmp_path_factory.mktemp("ck_jobs"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group):
        sc.setJobGroup(group, group)
        try:
            resume_or_run(
                root, "s", {}, "sig",
                lambda: spark.range(2000, numPartitions=8).selectExpr("id * 2 as x"),
            )
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        return len(tracker.getJobIdsForGroup(group))

    assert jobs("ck_jobs_save") <= 3
    assert jobs("ck_jobs_resume") == 0


def test_checkpoint_miscount_raises(spark, tmp_path_factory, monkeypatch):
    """When the observed row count disagrees with the lineage of what was
    written, the save raises and writes no manifest, so the stage is
    recomputed next time."""
    from pyspark.sql import Observation

    from nativeextractor_spark import staging

    class Miscounted(Observation):
        @property
        def get(self):
            return {"rows": super().get["rows"] + 1}

    root = str(tmp_path_factory.mktemp("ck_miscount"))
    monkeypatch.setattr(staging, "Observation", Miscounted)
    with pytest.raises(RuntimeError, match="'s'"):
        resume_or_run(root, "s", {}, "sig", lambda: spark.range(5))
    assert not os.path.exists(os.path.join(root, "s", "manifest.json"))


def test_merge_into_uri_path(spark, tmp_path_factory):
    """merge_into lists the table through the Hadoop FS API: a file: URI
    (which os.listdir cannot handle) must work end-to-end."""
    base = tmp_path_factory.mktemp("merge_uri")
    path = f"file://{base}/table"
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    merge_into(df1, path, keys=["k"])
    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    merge_into(df2, path, keys=["k"])
    rows = {(r.k, r.v) for r in spark.read.parquet(path).select("k", "v").collect()}
    assert rows == {(1, "a"), (2, "B"), (3, "c")}


def test_stage_checkpoint_uri_manifest(spark, tmp_path_factory):
    """Stage manifests go through Hadoop FS too (URI roots work)."""
    base = tmp_path_factory.mktemp("ck_uri")
    root = f"file://{base}"
    calls = []

    def fn():
        calls.append(1)
        return spark.createDataFrame([(1,)], "x long")

    out1 = resume_or_run(root, "s1", {"a": 1}, "sig", fn)
    out2 = resume_or_run(root, "s1", {"a": 1}, "sig", fn)  # resume: fn not re-run
    assert len(calls) == 1
    assert out1.count() == out2.count() == 1
    resume_or_run(root, "s1", {"a": 2}, "sig", fn)  # config change invalidates
    assert len(calls) == 2
    manifest = _manifest(str(base), "s1")
    assert sum(p["row_count"] for p in manifest["lineage"]) == manifest["rows"] == 1
