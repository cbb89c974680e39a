"""build_session: driver heap sizing (pure, no Spark), the session's
DataFrame-debugging setting and the pyspark its Python workers run."""

from __future__ import annotations

import os

import pyspark
import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from clickhouse_forecasting_spark.session import default_driver_memory
from clickhouse_forecasting_spark.worker_daemon import _is_spark_entry

_PAGE = 4096


def _host(monkeypatch, gib: int) -> None:
    pages = {"SC_PAGE_SIZE": _PAGE, "SC_PHYS_PAGES": gib * 2**30 // _PAGE}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)


@pytest.mark.parametrize(
    "gib, want",
    [
        (15, "6144m"),  # 40% of a 15 GiB host
        (256, "24g"),  # the 24g ceiling
    ],
)
def test_driver_memory_follows_host_memory(monkeypatch, gib, want):
    _host(monkeypatch, gib)
    assert default_driver_memory() == want


def test_driver_memory_env_overrides(monkeypatch):
    _host(monkeypatch, 15)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert default_driver_memory() == "2g"


def test_dataframe_debugging_off_errors_keep_their_class(spark):
    """Column calls capture no Python call site, and a failing expression
    still raises Spark's named error."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select(F.lit(1) / F.col("id")).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"


def test_python_workers_run_the_installed_pyspark(spark):
    """A Python task runs the pyspark the driver runs, not the one in
    Spark's source zip: no Spark zip or jar is on its ``sys.path``, and no
    zipimporter is left for a task's ``importlib.invalidate_caches()`` to
    re-read."""

    def probe(_):
        import sys
        import zipimport

        import pyspark

        cache = sys.path_importer_cache
        zipped = [k for k, v in cache.items() if isinstance(v, zipimport.zipimporter)]
        yield pyspark.__file__, list(sys.path), zipped

    [(file, path, zipped)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert file == pyspark.__file__ and ".zip" not in file
    assert [p for p in path if _is_spark_entry(p)] == []
    assert zipped == []
