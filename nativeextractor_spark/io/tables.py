"""Table IO: Iceberg-first reads and writes with a parquet fallback.

The pipeline codes to the DataFrame API only; the shim picks the storage
backend. With an Iceberg catalog configured (``spark.sql.catalog.*`` conf)
:func:`read_table` / :func:`write_table` resolve bare names as Iceberg
tables; otherwise paths are parquet directories. MERGE is not routed here:
:func:`nativeextractor_spark.kg.graph.merge_into` is a bucketed parquet
upsert on every backend (no Iceberg ``MERGE INTO`` branch; no Iceberg jar
is available to test one against).

Also covers the reference's only tabular source (S6/S7): the CSV→dictionary
path (``/root/reference/src/patricia.c:366-381`` builds a trie from an
RFC-4180 CSV stream; ``spark.read.csv`` implements RFC-4180 natively).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _iceberg_catalog(spark: SparkSession) -> str | None:
    for key in ("spark.sql.catalog.iceberg", "spark.sql.catalog.spark_catalog"):
        try:
            impl = spark.conf.get(key)
        except Exception:
            impl = None
        if impl and "iceberg" in impl.lower():
            return key.rsplit(".", 1)[-1]
    return None


def read_table(spark: SparkSession, name_or_path: str) -> DataFrame:
    """Read an Iceberg table by name (if a catalog is up) or a parquet path."""
    cat = _iceberg_catalog(spark)
    if cat and not name_or_path.startswith(("/", "file:", "s3:", "hdfs:")):
        return spark.read.format("iceberg").load(f"{cat}.{name_or_path}")
    return spark.read.parquet(name_or_path)


def write_table(
    df: DataFrame,
    name_or_path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    cat = _iceberg_catalog(df.sparkSession)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if cat and not name_or_path.startswith(("/", "file:", "s3:", "hdfs:")):
        writer.format("iceberg").saveAsTable(f"{cat}.{name_or_path}")
    else:
        writer.parquet(name_or_path)


def load_alias_dict_csv(
    spark: SparkSession,
    path: str,
    alias_col: str = "alias",
    id_col: str = "entity_id",
    header: bool = True,
):
    """CSV → broadcastable AliasDict (reference S7:
    ``patricia_c_create_from_stream``; every cell becomes a key, here the
    alias column, with the id column as terminal-node payload D6)."""
    from nativeextractor_spark.miners.ner import AliasDict

    df = spark.read.option("header", str(header).lower()).csv(path)
    cols = df.columns
    if alias_col not in cols:  # headerless: positional
        alias_col, id_col = cols[0], (cols[1] if len(cols) > 1 else None)
    rows = df.select(alias_col, *( [id_col] if id_col in cols else [] )).collect()
    aliases = [r[0] for r in rows if r[0]]
    ids = None
    if id_col in cols:
        ids = [int(r[1]) if r[1] is not None else -1 for r in rows if r[0]]
    return AliasDict.from_aliases(aliases, ids)
