"""Full pipeline + checkpoint/resume + idempotent MERGE tests."""

import os

import pytest
from pyspark.sql import functions as F

from nativeextractor_spark.datagen import build_alias_df, generate_pages_df
from nativeextractor_spark.kg import run_pipeline
from nativeextractor_spark.kg.graph import StageCheckpoint, merge_into
from nativeextractor_spark.kg.pipeline import materialize_graph


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
            s: os.stat(StageCheckpoint(root, s).manifest_path).st_mtime_ns
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


def test_checkpoint_resume(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ck"))
    ck = StageCheckpoint(root, "stage1")
    calls = []

    def compute():
        calls.append(1)
        return spark.range(5).withColumn("x", F.col("id") * 2)

    df1 = ck.run(spark, {"p": 1}, "sig-a", compute)
    assert df1.count() == 5 and len(calls) == 1
    # same signature → resume from checkpoint, no recompute
    df2 = ck.run(spark, {"p": 1}, "sig-a", compute)
    assert df2.count() == 5 and len(calls) == 1
    # changed config → recompute
    ck.run(spark, {"p": 2}, "sig-a", compute)
    assert len(calls) == 2
    # lineage table exists with per-partition counts
    lineage = spark.read.parquet(ck.lineage_path)
    assert lineage.agg(F.sum("row_count")).first()[0] == 5
    assert set(lineage.columns) == {"partition_id", "row_count"}


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
    """StageCheckpoint manifests go through Hadoop FS too (URI roots work)."""
    from nativeextractor_spark.kg.graph import StageCheckpoint

    root = f"file://{tmp_path_factory.mktemp('ck_uri')}"
    ck = StageCheckpoint(root, "s1")
    calls = []

    def fn():
        calls.append(1)
        return spark.createDataFrame([(1,)], "x long")

    out1 = ck.run(spark, {"a": 1}, "sig", fn)
    out2 = ck.run(spark, {"a": 1}, "sig", fn)  # resume: fn not re-run
    assert len(calls) == 1
    assert out1.count() == out2.count() == 1
    ck.run(spark, {"a": 2}, "sig", fn)  # config change invalidates
    assert len(calls) == 2
