"""SparkSession construction tuned for this engine.

The reference opens an HTTP client from env vars (forecast_script.py:82-94);
our equivalent session primitive is a SparkSession with scale-aware defaults:

- AQE on (runtime coalescing, skew-join splitting) so plans self-correct at
  100 TB where static partition counts are always wrong;
- shuffle partitions sized to the machine locally (overridable; on a real
  cluster you would size to ~2-3x total cores and let AQE coalesce);
- UTC session timezone so timestamp->date semantics are engine-independent
  (required for DuckDB oracle parity, and the right default anyway);
- Arrow enabled for every pandas exchange (applyInPandas / mapInPandas);
- parquet pushdown/pruning left at defaults (on) — correctness of our
  operators never depends on them, speed does;
- PySpark's DataFrame debugging off: with it on (the 4.x default) every
  ``F.*`` and Column call walks the Python stack and makes extra py4j
  round trips to record its call site, a driver cost paid on every frame
  built. Errors keep their error class (``DIVIDE_BY_ZERO`` etc.); they lose
  only the Python call-site context;
- Python workers started through ``worker_daemon``, which runs them on the
  installed, bytecode-cached pyspark the driver runs when its
  ``version.py`` matches ``pyspark.zip``'s: Spark's path order imports
  pyspark from the zip, which has no bytecode, so each fresh worker
  compiled pyspark again, and each task re-read the zip and jar
  directories (0.12-0.25 s per task on 4 vCPU, under 0.1 ms without them).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import worker_daemon

DEFAULT_APP_NAME = "clickhouse_forecasting_spark"


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else 24g capped at 40% of the host's
    physical memory. In local mode the driver IS the executor: 8g left only
    ~2.3 GB for the storage pool, and the persisted family stages (dedup
    banded/sets at sf0.1 + the 60k dedup-scale corpus) churned it — r4/r5
    bench showed 1-8 s eviction swings on UNRELATED queries. The cap keeps
    two sessions (a test run and an oracle check) inside a small host's
    memory: an uncapped 24g heap on a 15 GiB host grew until the kernel
    killed the JVM. On a real cluster you size executors, not this."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mib = int(phys * 0.4) // 2**20
    return "24g" if mib >= 24 * 1024 else f"{mib}m"


def build_session(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    On a real cluster, pass ``master=None`` with external cluster config and
    a larger ``shuffle_partitions``; locally we default to ``local[N]`` with
    N = SPARK_GRAFT_CPUS or cpu_count, and shuffle partitions == N so small
    jobs don't fragment into 200 empty tasks.
    """
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", worker_daemon.__name__)
        .config("spark.driver.memory", default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
