"""Parquet dataset helpers: an existence probe, a partition-scoped upsert
and the sink writer.

The canonical store is parquet (catalog.py). Scale notes:
- The sink writer sorts within partitions (parquet min/max page stats ->
  the same pruning MergeTree's ORDER BY provides, forecast_script.py:143)
  and optionally partitions by a coarse key (date bucket) for partition
  pruning; `maxRecordsPerFile` bounds file sizes so downstream scans
  parallelize evenly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def path_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem-agnostic existence probe via the Hadoop FS API (works
    for local paths, HDFS, and object stores alike — os.path does not)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(hconf).exists(p)


def upsert_partitioned(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    partition_col: str,
) -> None:
    """MERGE-style upsert into a partitioned parquet dataset: matched keys
    are replaced, new keys appended, everything else untouched.

    The scale contract is partition-scoped rewrite: only partitions that
    contain updated keys are read, merged (anti-join out the old versions
    of updated keys, union the updates), and dynamically overwritten —
    untouched partitions' files are never opened or rewritten. Update cost
    is proportional to touched partitions, not table size (the parquet-only
    stand-in for Delta/Iceberg MERGE INTO; at 100 TB pick partition_col so
    updates cluster into few partitions).

    The merged slice is localCheckpoint()ed before the overwrite because
    Spark refuses to overwrite a path it is still lazily reading from;
    the materialized slice is bounded by the touched partitions.
    """
    target = spark.read.parquet(path)
    touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
    merged = (
        target.filter(F.col(partition_col).isin(touched))
        .join(updates.select(keys), keys, "left_anti")
        .unionByName(updates)
        .localCheckpoint()
    )
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_table(
    df: DataFrame,
    path: str,
    sort_within_partitions: str | list[str] | None = None,
    partition_by: str | list[str] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
    fmt: str = "parquet",
) -> None:
    """C5-at-scale sink: drop-and-recreate via mode='overwrite'
    (forecast_script.py:127-145 semantics), clustered by sort column."""
    out = df
    if sort_within_partitions:
        cols = (
            [sort_within_partitions]
            if isinstance(sort_within_partitions, str)
            else sort_within_partitions
        )
        out = out.sortWithinPartitions(*cols)
    writer = out.write.mode(mode)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else partition_by
        writer = writer.partitionBy(*cols)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.format(fmt).save(path)
