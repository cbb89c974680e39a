"""Custom Python DataSource (Spark 4 API): deterministic time-series
generator, `spark.read.format("seriesgen")`.

The reference's only source is a ClickHouse HTTP connector
(`forecast_script.py:82-94,157`); this is our engine's demonstration that
NEW sources plug in behind the same DataFrame surface — the Python
DataSource API gives a schema, partition planning, and per-partition
readers, so the source parallelizes like any file scan. A generator source
is also the standard fixture trick for forecasting benchmarks: unbounded,
deterministic input with known seasonality, no files.

Options (all strings, per the API):
    start      ISO date of the first day          (default 2024-01-01)
    days       length of each series              (default 365)
    series     number of independent series       (default 4)
    amplitude  weekly-seasonality amplitude       (default 10.0)
    partitions scan partition count               (default min(series, 512))

Scan partitions carry a strided RANGE of series (series i lives in
partition i % n_parts), so the task count is bounded: one task per
series is right up to a few hundred series, but at 10k+ series the
per-task scheduling overhead dominates a generator that yields rows in
microseconds (measured: 2500 single-series tasks = ~28s of pure task
launch). The 512 default keeps any fixture fan-out fully parallel on
hundreds of cores while capping scheduling cost; each task still
streams its rows (generator, no materialized list), so memory per task
is O(1). Values are a pure hash formula of (series_id, day) — the same
options always produce the same table, in any partition layout, with
no RNG state.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)


def _noise(series_id: int, day: int) -> float:
    """Deterministic pseudo-noise in [-1, 1): md5 of the coordinates."""
    h = hashlib.md5(f"{series_id}:{day}".encode()).digest()
    return int.from_bytes(h[:8], "big") / 2**63 - 1.0


class SeriesGenReader(DataSourceReader):
    def __init__(self, options: dict):
        self.start = _dt.date.fromisoformat(options.get("start", "2024-01-01"))
        self.days = int(options.get("days", "365"))
        self.series = int(options.get("series", "4"))
        self.amplitude = float(options.get("amplitude", "10.0"))
        self.n_parts = int(
            options.get("partitions", str(min(self.series, 512)))
        )

    def partitions(self):
        return [InputPartition(i) for i in range(max(1, self.n_parts))]

    def read(self, partition):
        """Yields ONE Arrow RecordBatch per partition (the vectorized
        Python-DataSource path — r9: the row-tuple form paid per-row
        Arrow conversion and dominated the 2,500-series scale query).
        Values are bit-identical to the original per-row formula: the
        weekly sine has only 7 distinct arguments (precomputed with
        math.sin), the trend/base terms are the same left-associated
        float64 ops elementwise, and the md5 noise loop is unchanged."""
        import numpy as np
        import pyarrow as pa

        pid = partition.value
        n_parts = max(1, self.n_parts)
        sids = np.arange(pid, self.series, n_parts, dtype=np.int64)  # strided: balanced
        if len(sids) == 0:
            return
        days = np.arange(self.days, dtype=np.int64)
        sid_rep = np.repeat(sids, self.days)
        d_rep = np.tile(days, len(sids))
        sin_tab = np.array(
            [math.sin(2 * math.pi * (d % 7) / 7.0) for d in range(7)]
        )
        noise = np.fromiter(
            (_noise(int(s), int(d)) for s, d in zip(sid_rep, d_rep)),
            dtype=np.float64,
            count=len(sid_rep),
        )
        y = (
            (100.0 + 10.0 * sid_rep)
            + 0.05 * d_rep  # linear trend
            + self.amplitude * sin_tab[d_rep % 7]
            + 2.0 * noise
        )
        epoch_day = self.start.toordinal() - _dt.date(1970, 1, 1).toordinal()
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array((epoch_day + d_rep).astype(np.int32), type=pa.date32()),
                pa.array(sid_rep.astype(np.int32), type=pa.int32()),
                pa.array(y, type=pa.float64()),
            ],
            names=["date", "series_id", "y"],
        )
        yield batch


class SeriesGenDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "seriesgen"

    def schema(self) -> str:
        return "date date, series_id int, y double"

    def reader(self, schema) -> SeriesGenReader:
        return SeriesGenReader(self.options)


def register(spark) -> None:
    """Idempotent registration: after this, any query can
    `spark.read.format("seriesgen")`."""
    spark.dataSource.register(SeriesGenDataSource)
