"""Catalog layer: a database is a directory of parquet tables.

Covers SURVEY §2.1 (C1-C6). The reference's catalog verbs are ClickHouse SQL
strings over HTTP — ``SHOW TABLES FROM db`` (forecast_script.py:97-101),
``DESCRIBE TABLE`` (:106-111), ``EXISTS TABLE`` (:128-129), ``DROP TABLE``
(:131-132), ``CREATE TABLE ... ENGINE=MergeTree() ORDER BY date`` (:134-145).
Here the namespace is a directory of ``<table>.parquet`` files/dirs (the
TESTDATA layout); schemas are parquet-native; CREATE+DROP collapse into
``mode("overwrite")`` writes sorted by date — parquet min/max page stats then
give the same date-pruning benefit MergeTree's ORDER BY date gives ClickHouse.

At 100 TB a "table" is a multi-file parquet dataset (optionally
partitioned by a coarse date bucket); everything below works unchanged
because paths are datasets, not single files, to Spark's reader.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

FORECAST_PREFIX = "bucket_forecast_"


def forecast_table_name(table_name: str) -> str:
    """Derived output name (SURVEY C6): ``bucket_forecast_<name>``, stripping
    an existing ``bucket_`` prefix to avoid doubling.

    Reference: forecast_script.py:121-124. We apply this (documented-intent)
    rule everywhere; the reference's INSERT path uses an unconditional
    ``table_name[7:]`` (forecast_script.py:156) which crashes for tables not
    named ``bucket_*`` — documented deviation, SURVEY §7.5.
    """
    stripped = table_name.strip()
    if stripped.startswith("bucket_"):
        return FORECAST_PREFIX + stripped[len("bucket_") :]
    return FORECAST_PREFIX + stripped


def is_forecast_output(table_name: str) -> bool:
    """Skip-filter for derived tables (SURVEY R14, forecast_script.py:234-236)."""
    return table_name.startswith(FORECAST_PREFIX)


@dataclass
class ParquetCatalog:
    """A flat two-level namespace (database -> tables) over a directory.

    Mirrors the reference's data model (SURVEY §1.1) with parquet datasets:
    ``<root>/<table>.parquet`` may be a file or a dataset directory.
    """

    spark: SparkSession
    root: str

    # C1 — SHOW TABLES (forecast_script.py:97-101)
    def list_tables(self) -> list[str]:
        names = []
        for entry in sorted(os.listdir(self.root)):
            if entry.endswith(".parquet"):
                names.append(entry[: -len(".parquet")])
        return names

    def path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.parquet")

    # C3 — EXISTS TABLE (forecast_script.py:128-129)
    def table_exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    # R1 scan entry point; Catalyst handles projection/predicate pushdown
    def table(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    # C2 — DESCRIBE TABLE (forecast_script.py:106-111): (name, type) pairs
    def describe(self, table: str) -> list[tuple[str, str]]:
        return [(f.name, f.dataType.simpleString()) for f in self.table(table).schema.fields]

    # C4 — DROP TABLE (forecast_script.py:131-132)
    def drop_table(self, table: str) -> None:
        p = self.path(table)
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)

    # C5 — CREATE-and-fill, clustered by date. Drop+recreate semantics of the
    # reference (forecast_script.py:127-145) == mode("overwrite"). Sorting
    # within partitions by `date` reproduces MergeTree ORDER BY date locality
    # so parquet row-group stats prune date-range scans.
    def write_table(self, df: DataFrame, table: str, order_by: str | None = "date") -> None:
        out = df
        if order_by is not None and order_by in df.columns:
            out = df.sortWithinPartitions(order_by)
        out.write.mode("overwrite").parquet(self.path(table))
