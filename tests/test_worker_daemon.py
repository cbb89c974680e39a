"""worker_daemon's path rule, on synthetic paths and files (no Spark)."""

from __future__ import annotations

import zipfile

from clickhouse_forecasting_spark import worker_daemon as wd

LIB = "/spark/python/lib"
SPARK = [
    f"{LIB}/pyspark.zip",
    f"{LIB}/py4j-0.10.9.9-src.zip",
    "/spark/jars/spark-core_2.13-4.1.2.jar",
]
OWN = ["/usr/lib/python311.zip", "/usr/lib/python3.11", "/usr/lib/python3.11/site-packages"]
PATH = ["/work", SPARK[0], "/work/userFiles-1", *SPARK[1:], *OWN]
VERSION = b"__version__: str = '4.1.2'\n"


def test_equal_versions_drop_spark_zips_and_jar():
    path, reason = wd.worker_path(PATH, VERSION, VERSION)
    assert reason is None
    assert path == ["/work", "/work/userFiles-1", *OWN]


def test_other_version_or_no_install_keeps_spark_order():
    for installed in (b"__version__: str = '4.0.0'\n", None):
        path, reason = wd.worker_path(PATH, installed, VERSION)
        assert path == PATH and path is not PATH
        assert reason


def test_versions_read_from_the_install_and_the_zip(tmp_path):
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_bytes(VERSION)
    (site / "py4j").mkdir()
    (site / "py4j" / "__init__.py").write_text("")
    bare = tmp_path / "bare"  # the same pyspark, no py4j
    bare.mkdir()
    (bare / "pyspark").symlink_to(site / "pyspark")
    lib = tmp_path / "lib"
    lib.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__: str = '4.0.0'\n")
    spark_first = [str(lib / "pyspark.zip"), str(site)]

    # the zip comes first on Spark's path, but only the install is read as installed
    assert wd._installed_version(spark_first) == VERSION
    assert wd._zip_version(spark_first) == b"__version__: str = '4.0.0'\n"
    assert wd._installed_version([str(lib / "pyspark.zip")]) is None
    assert wd._installed_version([str(bare)]) is None
    assert wd._zip_version([str(site)]) is None
