"""Python-worker daemon that runs the installed, bytecode-cached pyspark.

``session.build_session`` names this module in Spark's
``spark.python.daemon.module``, so Spark starts every Python-worker daemon
as ``python -m clickhouse_forecasting_spark.worker_daemon pyspark.worker``.
Spark puts three entries in front of the interpreter's own ``sys.path``:
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and the
spark-core jar. Two fixed costs follow from them:

- pyspark is imported from the zip, which holds sources and no bytecode,
  so every fresh daemon compiles pyspark again (``import pyspark.worker``:
  0.89-1.15 s from the zip, 0.19-0.25 s from the installed package, 4 vCPU);
- every task calls ``importlib.invalidate_caches()``
  (``pyspark.worker_util.setup_spark_files``), and each zipimporter on the
  path, one per imported pyspark sub-package included, re-reads its
  archive's directory on that call (the jar alone has 5,359 entries and
  no ``.py`` file): 0.12-0.25 s per task with 16 zipimporters, under
  0.1 ms with none.

When the interpreter finds a pyspark and a py4j outside those entries, and
that pyspark's ``version.py`` is byte-identical to the zip's, the daemon
drops the three entries and their importers before it imports anything
from pyspark, then runs ``pyspark.daemon.manager()``. Otherwise ``sys.path`` stays exactly as
Spark built it, and one line on stderr says why. Only this module's own
standard-library imports run before the rule, so nothing is imported from
the zip first.

The daemon starts in the driver JVM's working directory with ``-m``, so it
imports this package the way the forecast stage's pickled functions do: from
the working directory or ``PYTHONPATH``.
"""

from __future__ import annotations

import os
import sys
import zipimport
from importlib.machinery import PathFinder


def _is_spark_entry(entry: str) -> bool:
    """Whether a ``sys.path`` entry is one that Spark put in front of the
    interpreter's own: pyspark.zip, the py4j source zip or the spark-core
    jar."""
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
        or (name.startswith("spark-core_") and name.endswith(".jar"))
    )


def worker_path(
    path: list[str], installed_version: bytes | None, zip_version: bytes | None
) -> tuple[list[str], str | None]:
    """The daemon's ``sys.path`` from the one Spark built, and the reason
    when it is kept unchanged (None when Spark's entries are dropped).

    ``installed_version`` is the ``pyspark/version.py`` the interpreter
    finds outside Spark's entries (None: no pyspark and py4j there);
    ``zip_version`` is the one in ``pyspark.zip``."""
    if installed_version is None:
        return list(path), "no pyspark and py4j installed outside Spark's zips"
    if installed_version != zip_version:
        return list(path), "the installed pyspark's version.py differs from pyspark.zip's"
    return [p for p in path if not _is_spark_entry(p)], None


def _installed_version(path: list[str]) -> bytes | None:
    """``pyspark/version.py`` of the pyspark found outside Spark's entries,
    None when there is none or no py4j next to it."""
    own = [p for p in path if not _is_spark_entry(p)]
    spec = PathFinder.find_spec("pyspark", own)
    if spec is None or not spec.submodule_search_locations or not PathFinder.find_spec("py4j", own):
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


def _zip_version(path: list[str]) -> bytes | None:
    for entry in path:
        if os.path.basename(entry) == "pyspark.zip":
            try:
                return zipimport.zipimporter(entry).get_data("pyspark/version.py")
            except (OSError, zipimport.ZipImportError):
                return None
    return None


def run_daemon() -> None:
    path, reason = worker_path(sys.path, _installed_version(sys.path), _zip_version(sys.path))
    if reason:
        print(f"{__spec__.name}: keeping Spark's sys.path: {reason}", file=sys.stderr)
    # the interpreter's start-up imports already searched Spark's entries
    for entry in set(sys.path) - set(path):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = path

    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    run_daemon()
