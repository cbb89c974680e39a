"""Observability parity (SURVEY §2.5, O1-O3).

The reference's only outputs besides tables are a rotating file log
(forecast.log, 50 MB x 3 backups, forecast_script.py:58-64), an uncaught-
exception hook (:75-79), and run-summary counters (:69-73,244-247).

Deviations (documented, SURVEY §2.5/O3): the reference double-counts a table
with failed columns in both failed and successful lists (:197,:217) and its
summary arithmetic `len(skipped)-len(failed)` can go negative (:246). We keep
the counters disjoint and report plain counts.
"""

from __future__ import annotations

import logging
import os
import sys
import time
from dataclasses import dataclass, field
from logging.handlers import RotatingFileHandler

LOG_FORMAT = "[%(asctime)s] [%(levelname)s]: %(message)s"
LOG_DATEFMT = "%d.%m.%Y %H:%M:%S"


def configure_logging(log_path: str = "forecast.log", level: int = logging.INFO) -> logging.Logger:
    """O1: rotating file log, 50 MB max, 3 backups (forecast_script.py:59-61).

    Idempotent per log file: repeated calls (multiple runs in one process,
    tests) must not stack handlers, or every record is written once per
    call. The file is matched by absolute path, so a call from another
    working directory, or for another file whose name ends the same way,
    gets its own handler."""
    logger = logging.getLogger("clickhouse_forecasting_spark")
    logger.setLevel(level)
    path = os.path.abspath(log_path)
    already = any(
        isinstance(h, RotatingFileHandler) and h.baseFilename == path
        for h in logger.handlers
    )
    if not already:
        handler = RotatingFileHandler(log_path, maxBytes=50 * 1024 * 1024, backupCount=3)
        handler.setFormatter(logging.Formatter(LOG_FORMAT, datefmt=LOG_DATEFMT))
        logger.addHandler(handler)
    return logger


def install_excepthook(logger: logging.Logger) -> None:
    """O2: log uncaught exceptions, then delegate (forecast_script.py:75-79)."""

    def _hook(exc_type, exc_value, exc_tb):
        logger.error("uncaught error during run:", exc_info=(exc_type, exc_value, exc_tb))
        sys.__excepthook__(exc_type, exc_value, exc_tb)

    sys.excepthook = _hook


@dataclass
class RunCounters:
    """O3: run summary (forecast_script.py:69-73,244-247), disjoint sets."""

    successful: list[str] = field(default_factory=list)
    new: list[str] = field(default_factory=list)
    updated: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)
    failed: list[str] = field(default_factory=list)
    failed_metrics: dict[str, list[str]] = field(default_factory=dict)
    start_time: float = field(default_factory=time.time)

    def summary(self) -> str:
        duration = time.time() - self.start_time
        return (
            f"run complete in {duration:.2f}s — "
            f"successful: {len(self.successful)}, new: {len(self.new)}, "
            f"updated: {len(self.updated)}, skipped: {len(self.skipped)}, "
            f"failed: {len(self.failed)}"
        )


def _walk_executed_plan(node):
    """Depth-first walk of an EXECUTED physical plan, descending through
    the AQE wrappers (AdaptiveSparkPlanExec holds the final plan;
    QueryStageExec wraps each materialized stage)."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _walk_executed_plan(node.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _walk_executed_plan(node.plan())
        return
    children = node.children()
    for i in range(children.size()):
        yield from _walk_executed_plan(children.apply(i))


# --- runtime single-partition audit (r7 VERDICT #2) -----------------------
#
# The static census (plans.single_partition_collapses + PLANS.md) proves
# every registered query plans with zero UNBOUNDED single-partition
# exchanges — but it is static: a `WindowExec: No Partition Defined`
# warning at bench time is classified bounded by reading the plan, not by
# measuring the frame. This closes the loop: walk the EXECUTED plan and
# attribute every SinglePartition shuffle to the rows it actually moved.
# Every census-bounded class is O(config x enum x calendar x literal) —
# none exceeds ~1e5 rows at ANY data scale — so a runtime count above the
# cap means either a census misclassification or a bounded class that
# stopped being bounded; both must fail loudly.

RUNTIME_SINGLEPART_CAP = 100_000


def _read_executed_plan(df, query: str | None = None) -> tuple[list[dict], dict, list[dict]]:
    """The one metric read of an ALREADY EXECUTED DataFrame's final (AQE)
    plan, shared by every public read below:

        (singlepart_rows, volume, nodes)

    Run an action first — an unexecuted plan has zero metrics and, under
    AQE, no final stages to walk. Every metric read is a py4j
    round-trip (~100ms per walk of a deep plan), which is why the bench
    takes both of its reads from one walk (runtime_plan_audit)."""
    singlepart_rows: list[dict] = []
    nodes: list[dict] = []
    volume = {
        "rows_scanned": 0,
        "files_read": 0,
        "bytes_scanned": 0,
        "shuffle_bytes_written": 0,
        "shuffle_records": 0,
        "output_rows": None,
    }
    for node in _walk_executed_plan(df._jdf.queryExecution().executedPlan()):
        cls = node.getClass().getSimpleName()
        vals = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2().value()
        if vals:
            nodes.append({"node": cls, "metrics": vals})
        if cls == "FileSourceScanExec":
            volume["rows_scanned"] += vals.get("numOutputRows", 0)
            volume["files_read"] += vals.get("numFiles", 0)
            volume["bytes_scanned"] += vals.get("filesSize", 0)
        elif cls == "ShuffleExchangeExec":
            volume["shuffle_bytes_written"] += vals.get("shuffleBytesWritten", 0)
            volume["shuffle_records"] += vals.get("shuffleRecordsWritten", 0)
            if node.outputPartitioning().toString() == "SinglePartition":
                recs = int(vals.get("shuffleRecordsWritten", 0))
                singlepart_rows.append(
                    {
                        "query": query,
                        "records": recs,
                        "ok": recs <= RUNTIME_SINGLEPART_CAP,
                        "node": node.toString().splitlines()[0][:200],
                    }
                )
        if volume["output_rows"] is None and "numOutputRows" in vals:
            volume["output_rows"] = vals["numOutputRows"]
    return singlepart_rows, volume, nodes


def query_metrics(df) -> dict:
    """O-family extension: physical execution metrics for an ALREADY
    EXECUTED DataFrame (run an action first; metrics are zero before).

    Returns the numbers a 100 TB operator actually watches — scan
    selectivity (did pruning/pushdown work?), shuffle volume (is the
    plan moving the narrow projection or the whole row?), and
    per-operator output rows — summarized from the executed plan's
    SQLMetrics:

        rows_scanned / files_read / bytes_scanned   (FileSourceScan)
        shuffle_bytes_written / shuffle_records     (ShuffleExchange)
        output_rows                                 (root operator)
        nodes: [{node, metrics}, ...]               (full detail)

    The reference's only observability is wall-clock + run counters in
    a log (forecast_script.py:67,244-247); this is the engine-native
    equivalent of its ``Dauer`` line, at per-operator grain.
    """
    _, volume, nodes = _read_executed_plan(df)
    return {**volume, "nodes": nodes}


def runtime_single_partition_audit(df, query: str | None = None) -> list[dict]:
    """Every SinglePartition shuffle in an ALREADY EXECUTED DataFrame's
    final (AQE) plan, with the record count it actually moved:

        [{"query": ..., "records": n, "ok": n <= cap, "node": <line>}]"""
    return _read_executed_plan(df, query)[0]


def runtime_plan_audit(df, query: str | None = None) -> tuple[list[dict], dict]:
    """Both bench telemetry reads from one executed-plan walk:

        (singlepart_rows, volume)

    ``singlepart_rows`` is exactly runtime_single_partition_audit's
    output; ``volume`` is query_metrics' scan/shuffle summary WITHOUT
    the per-node detail — the numbers that answer "is there a shuffle
    here that becomes the bottleneck at 100x" with measurements instead
    of plan reading. Shuffle metric caveat: AQE reused exchanges report
    under the stage that materialized them, so a query riding a
    session-cached stage shows ~zero shuffle (it read InMemoryTableScan)
    — attribution follows execution, which is the number that matters."""
    singlepart_rows, volume, _ = _read_executed_plan(df, query)
    return singlepart_rows, volume


def assert_runtime_single_partitions_bounded(df, query: str | None = None) -> list[dict]:
    """runtime_single_partition_audit + fail loudly: raises AssertionError
    naming the query and the record count for any SinglePartition exchange
    that moved more than RUNTIME_SINGLEPART_CAP rows (i.e. cannot belong
    to a census-bounded class). Returns the audit rows on success so
    callers can log the attribution."""
    rows = runtime_single_partition_audit(df, query=query)
    bad = [r for r in rows if not r["ok"]]
    if bad:
        raise AssertionError(
            f"query {query!r}: {len(bad)} SinglePartition exchange(s) moved "
            f"more than {RUNTIME_SINGLEPART_CAP} rows at execution time — "
            "not census-bounded: "
            + "; ".join(f"{r['records']} rows via {r['node']}" for r in bad)
        )
    return rows
