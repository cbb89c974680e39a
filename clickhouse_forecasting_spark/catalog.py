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

Every table read goes through :func:`read_parquet`, which hands Spark the
schema of the dataset's first data file's footer, read on the driver, so
opening a table submits no Spark job (``spark.read.parquet`` runs a
one-task schema-inference job per call).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.errors.exceptions.captured import convert_exception
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

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


def parquet_files(path: str) -> list[str]:
    """Data files of a parquet dataset in sorted order: the file itself, or
    every file under a directory, skipping names that start with ``_`` or
    ``.`` (Spark's ``_SUCCESS`` markers and ``.crc`` checksums)."""
    if os.path.isfile(path):
        return [path]
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        files += [os.path.join(root, n) for n in names if not n.startswith(("_", "."))]
    return sorted(files)


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, read on the driver
    with no Spark job: the footer of the dataset's first data file, through
    Spark's own footer reader and parquet-to-Spark converter under the
    session's conf (so ``nanosAsLong``, ``inferTimestampNTZ`` and the Spark
    row metadata of Spark-written files apply as they do in inference).
    Like Spark's reader, a missing path raises ``PATH_NOT_FOUND`` and a
    dataset without data files ``UNABLE_TO_INFER_SCHEMA``."""
    def jclass(name: str):  # one py4j round trip per class, not per package
        return getattr(spark._jvm, name)

    errors = "org.apache.spark.sql.errors.QueryCompilationErrors"
    if not os.path.exists(path):
        raise convert_exception(jclass(errors).dataPathNotExistError(path))
    files = parquet_files(path)
    if not files:
        raise convert_exception(jclass(errors).dataSchemaNotSpecifiedError("Parquet"))
    parquet = "org.apache.spark.sql.execution.datasources.parquet."
    state = spark._jsparkSession.sessionState()
    hadoop_conf = state.newHadoopConf()
    file = jclass("org.apache.hadoop.fs.Path")(files[0])
    status = file.getFileSystem(hadoop_conf).getFileStatus(file)
    meta = jclass(parquet + "ParquetFooterReader").readFooter(
        jclass("org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(status, hadoop_conf),
        jclass("org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
    )
    schema = jclass(parquet + "ParquetFileFormat").readSchemaFromFooter(
        jclass("org.apache.parquet.hadoop.Footer")(status.getPath(), meta),
        jclass(parquet + "ParquetToSparkSchemaConverter")(state.conf()),
    )
    return _parse_datatype_json_string(schema.json())


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema from
    :func:`parquet_schema`: the same frame, without the inference job."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


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
        return read_parquet(self.spark, self.path(table))

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
