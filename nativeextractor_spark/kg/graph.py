"""Graph materialization: node/edge tables and an idempotent MERGE.

:func:`merge_into` is a bucketed parquet upsert on every backend: rows are
bucketed by ``pmod(xxhash64(key), n_buckets)`` and only the buckets touched
by new data are rewritten (dynamic partition overwrite + anti-join on the
natural key) — bounded work, not a full-table rewrite. There is no Iceberg
``MERGE INTO`` branch. The Hadoop FileSystem helpers here are shared with
the streaming band state and the stage checkpoints of
:func:`nativeextractor_spark.staging.resume_or_run`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_BUCKETS = 256


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any Hadoop-supported scheme (file:, hdfs:,
    s3a:, ...) — never assume a POSIX local filesystem on the driver."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def _fs_child_names(spark: SparkSession, path: str) -> list[str]:
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def _fs_read_text(spark: SparkSession, path: str) -> str | None:
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, p = _hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _bucket_dirs(spark: SparkSession, path: str) -> set[int]:
    return {
        int(name.split("=", 1)[1])
        for name in _fs_child_names(spark, path)
        if name.startswith("_bucket=")
    }


def merge_into(
    df: DataFrame,
    path: str,
    keys: list[str],
    n_buckets: int = N_BUCKETS,
    bucket_cols: list[str] | None = None,
) -> None:
    """Idempotent upsert of ``df`` into a parquet table at ``path``.

    Partitioned by ``_bucket = pmod(xxhash64(bucket_cols...), n_buckets)``
    (``bucket_cols`` defaults to ``keys``). Only the buckets present in
    ``df`` are rewritten: existing rows in those buckets that don't collide
    on the natural key are kept (anti-join), then the union overwrites
    those partitions dynamically, whatever table backend is configured.
    Table listing goes through the Hadoop FileSystem API, so ``path`` may
    be file:/hdfs:/s3a:/... .

    Passing non-key ``bucket_cols`` makes reads PRUNABLE on those columns
    (read only the ``_bucket=`` dirs a probe's bucket values hash to),
    with one precondition: a row re-merged under the same key must carry
    the SAME bucket_cols values — otherwise its previous copy sits in a
    partition this merge never reads and survives as a stale duplicate.
    (The streaming band-state table satisfies this: a replayed batch
    recomputes byte-identical rows from the same source offsets.)
    """
    spark = df.sparkSession
    bcols = bucket_cols or keys
    bucket = F.pmod(F.xxhash64(*bcols), F.lit(n_buckets)).cast("int")
    new = df.withColumn("_bucket", bucket)
    on_disk = _bucket_dirs(spark, path)
    if on_disk:
        touched = {r._bucket for r in new.select("_bucket").distinct().collect()}
        readable = sorted(touched & on_disk)
        if readable:
            old = (
                spark.read.option("basePath", path)
                .parquet(*[f"{path}/_bucket={b}" for b in readable])
                .withColumn(
                    "_bucket",
                    F.pmod(F.xxhash64(*bcols), F.lit(n_buckets)).cast("int"),
                )
            )
            keep = old.join(new.select(*keys).distinct(), keys, "left_anti")
            out = keep.select(*new.columns).unionByName(new)
        else:
            out = new
    else:
        out = new
    (
        out.repartition("_bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_bucket")
        .parquet(path)
    )


def build_graph(
    triples: DataFrame,
    canonical: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """(triples + canonical surface map) → (nodes, edges) per FIXTURES.md §4.

    nodes: (entity_id, canonical, entity_type, n_mentions)
    edges: (src, dst, pred, weight)
    """
    t = triples
    cmap = canonical.select(
        F.col("surface").alias("_surf"), F.col("canonical_id")
    )
    t = (
        t.join(F.broadcast(cmap), t["subj"] == F.col("_surf"), "left")
        .withColumn("src", F.coalesce("canonical_id", F.xxhash64("subj")))
        .drop("_surf", "canonical_id")
        .join(F.broadcast(cmap), t["obj"] == F.col("_surf"), "left")
        .withColumn("dst", F.coalesce("canonical_id", F.xxhash64("obj")))
        .drop("_surf", "canonical_id")
    )
    mentions = t.select(
        F.col("src").alias("entity_id"),
        F.col("subj").alias("surface"),
        F.col("subj_type").alias("entity_type"),
    ).unionByName(
        t.select(
            F.col("dst").alias("entity_id"),
            F.col("obj").alias("surface"),
            F.col("obj_type").alias("entity_type"),
        )
    )
    nodes = mentions.groupBy("entity_id").agg(
        F.min("surface").alias("canonical"),
        F.min("entity_type").alias("entity_type"),
        F.count("*").alias("n_mentions"),
    )
    edges = t.groupBy("src", "dst", "pred").agg(
        F.count("*").cast("double").alias("weight")
    )
    return nodes, edges
