"""End-to-end benchmark of the forecast CLI and the query engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Each run is one fresh process
with one caller (closed loop): Spark runs ``local[N]`` with N = the CPUs
this process may use, inputs are generated from ``--seed`` into a
private work directory under the checkout, and set-up and cold caches
are paid as a CLI user pays them.

Workloads:

- ``catalog_narrow``: 6 tables x 4 DOUBLE metrics x 730 days (plus one
  STRING column) through ``pipeline.run_forecast_pipeline`` with
  ``interval=30``; per-table work dominates;
- ``catalog_wide``: 1 table x 128 DOUBLE metrics x 730 days, same
  settings; forecast-frame construction, the fit stage and a wide write
  dominate;
- ``query_mix``: four registered queries over a seeded TPC-H-shaped star
  (180k lineitem rows) plus a 1,000-document corpus, each ``collect()``ed.

The timed section is the workload's call, made once (``run_s``): one
``run_forecast_pipeline`` call, or one pass over the four queries. The
work is fixed, so ``--seconds`` bounds nothing. On a 4-core host the
call takes 7-19 s and a whole run 25-45 s, of which the set-up (JVM
start plus the warm-ups, ``setup_s``) is 13-23 s; sizes are chosen so
that 70 runs finish well inside an hour. A traced ``query_mix``
run makes a second pass in the same session for the warm-cache
per-layer figures. Outputs are checked after the timed section.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; with ``--trace 0`` the metrics are the end-to-end
ones, with ``--trace 1`` the per-layer ones from an in-memory span trace
(see tracing.py). The line before it records the host sizing and the
source digest of the measured code; a traced run prints its spans on
the line before that.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
sys.path[1:1] = [ROOT, os.path.join(ROOT, "tools")]

import inputs  # noqa: E402

INTERVAL = 30
HISTORY_DAYS = 730
HASH_SAMPLE = 4  # series per catalog run hashed against an in-process fit
QUERY_TABLES = ["lineitem", "orders", "supplier", "part", "documents"]
QUERIES = [
    "tpch_q21_waiting_orders",
    "quantiles_exact_weighted",
    "dedup_minhash_lsh_pairs",
    "allocation_proration",
]

WORKLOADS = {
    "catalog_narrow": {"kind": "catalog", "prefix": "bucket_narrow", "tables": 6, "metrics": 4},
    "catalog_wide": {"kind": "catalog", "prefix": "bucket_wide", "tables": 1, "metrics": 128},
    "query_mix": {"kind": "query", "scale": 0.03, "docs": 1000, "words": (8, 40)},
}

END_TO_END = {"setup_s": "s", "run_s": "s"}

SPARK_METRICS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "exec_run_ms": "ms", "exec_cpu_ms": "ms", "gc_ms": "ms",
    "shuffle_fetch_wait_ms": "ms", "shuffle_write_mb": "MiB", "scan_mb": "MiB",
}
PER_QUERY = {
    "build_s": "s", "build_jobs": "count", "collect_s": "s", "transfer_s": "s", "rerun_s": "s",
    "analysis_ms": "ms", "optimization_ms": "ms", "planning_ms": "ms",
    **{k: u for k, u in SPARK_METRICS.items() if k != "stages"},
}
# Per-layer metrics, and the end-to-end figure each should move:
# - pipeline.* (per-table span; self = probe + readback): run_s on
#   catalog_narrow; no change predicted on catalog_wide or query_mix;
# - forecast.build_s (SeriesForecaster.transform + ordered_for_sink) and
#   the sink plan's catalyst.*: run_s on catalog_wide;
# - catalog.*: run_s on both catalogs; catalog.write_amp is output bytes
#   over source bytes;
# - model.fit_ms_per_series (in-process batched fit): under 3% of
#   catalog_wide run_s, so a model-only change should move no run_s;
# - query.*, the queries' catalyst.* and <query>.*: run_s on query_mix;
#   transfer = collect wall time not covered by any of its jobs;
# - runtime_cache.* and query.rerun_s: the warm second query_mix pass;
# - spark.*: totals over the timed call's spans, from the status store.
# Metrics a workload does not exercise read 0.
PER_LAYER = {
    "pipeline.table_s": "s",
    "pipeline.self_s": "s",
    "pipeline.jobs_per_table": "count",
    "pipeline.span_coverage": "ratio",
    "forecast.build_s": "s",
    "catalog.write_s": "s",
    "catalog.write_jobs": "count",
    "catalog.bytes_written": "bytes",
    "catalog.write_amp": "ratio",
    "model.fit_ms_per_series": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "query.build_s": "s",
    "query.build_jobs": "count",
    "query.collect_s": "s",
    "query.transfer_s": "s",
    "query.rerun_s": "s",
    "runtime_cache.entries": "count",
    "runtime_cache.storage_mb": "MiB",
    "runtime_cache.lookups": "count",
    "runtime_cache.hits": "count",
    **{f"spark.{k}": u for k, u in SPARK_METRICS.items()},
    "session.jvm_peak_rss_mb": "MiB",
    "trace.run_s": "s",
    **{f"{q}.{k}": u for q in QUERIES for k, u in PER_QUERY.items()},
}


# --- host sizing -----------------------------------------------------------


def source_digest() -> str:
    """sha256 over the engine's Python sources: identifies the measured
    code where the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "clickhouse_forecasting_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=30
    )
    return out.stdout.strip() or None


def size_host(work: str) -> dict:
    """Pin Spark to this host: local[N] with N = usable CPUs, a JVM heap
    well below physical memory, Spark's local dirs in the work directory."""
    cores = len(os.sched_getaffinity(0))
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gib = max(1, min(6, int(phys_gib * 0.4)))
    local_dirs = os.path.join(work, "spark-local")
    os.makedirs(local_dirs, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gib}g"
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "cores": cores,
        "heap": f"{heap_gib}g",
        "phys_gib": round(phys_gib, 1),
        "commit": git_commit(),
        "source_sha256": source_digest(),
    }


# --- Spark session lifetime -----------------------------------------------


def start_spark():
    from clickhouse_forecasting_spark.session import build_session

    return build_session(
        "perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )


def warm_up(spark, parquet_path: str) -> None:
    """The legacy bench's warm-ups: one parquet count (JVM, footer reads)
    and a 32-series mini-fit (one Python worker per core)."""
    from clickhouse_forecasting_spark.forecast import SeriesForecaster
    from clickhouse_forecasting_spark.sources import seriesgen

    spark.read.parquet(parquet_path).count()
    seriesgen.register(spark)
    warm = (
        spark.read.format("seriesgen")
        .option("series", "32").option("days", "15").load()
        .selectExpr("date AS ds", "CAST(series_id AS STRING) AS metric", "y")
    )
    SeriesForecaster(interval=2, only_future=True).transform_long(warm).collect()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


# --- tracing hooks ----------------------------------------------------------


def install_spans(tracer) -> None:
    """Wrap the engine's public calls so each records a span."""
    from clickhouse_forecasting_spark import pipeline, runtime_cache, telemetry
    from clickhouse_forecasting_spark.catalog import ParquetCatalog
    from clickhouse_forecasting_spark.forecast import SeriesForecaster
    from clickhouse_forecasting_spark.functions import dedup
    from tracing import catalyst_phases

    tracer.wrap(pipeline, "run_forecast_pipeline", "pipeline.run")
    tracer.wrap(pipeline, "_process_table", "pipeline.table")
    tracer.wrap(pipeline, "ordered_for_sink", "relational.ordered_for_sink")
    tracer.wrap(ParquetCatalog, "list_tables", "catalog.list_tables")
    tracer.wrap(ParquetCatalog, "table_exists", "catalog.table_exists")
    tracer.wrap(ParquetCatalog, "table", "catalog.table")
    tracer.wrap(SeriesForecaster, "transform", "forecast.transform")
    entries = runtime_cache.entries
    tracer.wrap(runtime_cache, "entries", "runtime_cache.entries")
    tracer.wrap(telemetry.RunCounters, "summary", "telemetry.summary")
    tracer.wrap(telemetry, "query_metrics", "telemetry.query_metrics")

    write = ParquetCatalog.write_table

    def write_table(self, df, table, order_by="date"):
        with tracer.span("catalog.write_table"):
            write(self, df, table, order_by)
        # the sink frame's own plan phases; the probe is a sibling span so
        # it never counts as write or per-table self time
        with tracer.span("trace.catalyst") as rec:
            df._jdf.queryExecution().executedPlan()
            rec["catalyst"] = catalyst_phases(df)

    ParquetCatalog.write_table = write_table

    cached = runtime_cache.cached_frame

    def cached_frame(df, key, build):
        with tracer.span("runtime_cache.cached_frame"):
            before = len(entries())
            out = cached(df, key, build)
            if key is not None:
                tracer.counts["lookups"] = tracer.counts.get("lookups", 0) + 1
                if len(entries()) == before:
                    tracer.counts["hits"] = tracer.counts.get("hits", 0) + 1
            return out

    runtime_cache.cached_frame = cached_frame
    if dedup._cached_stage is cached:
        dedup._cached_stage = cached_frame


# --- catalog workloads ------------------------------------------------------


def parquet_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".parquet")
    )


def run_catalog(spark, spec: dict, db: str, tracer) -> dict:
    from clickhouse_forecasting_spark import pipeline
    from clickhouse_forecasting_spark.catalog import ParquetCatalog, forecast_table_name

    catalog = ParquetCatalog(spark, db)
    t = time.perf_counter()
    counters = pipeline.run_forecast_pipeline(catalog, INTERVAL)
    run_s = time.perf_counter() - t
    if tracer is not None:
        tracer.collect_jobs()
    names = [f"{spec['prefix']}_{i:02d}" for i in range(spec["tables"])]
    src = sum(parquet_bytes(os.path.join(db, f"{t}.parquet")) for t in names)
    out = sum(parquet_bytes(os.path.join(db, f"{forecast_table_name(t)}.parquet")) for t in names)
    return {"run_s": run_s, "counters": counters, "names": names, "bytes_in": src, "bytes_out": out}


def catalog_layers(tracer, res: dict, spec: dict, db: str) -> dict:
    from checks import long_frame
    from clickhouse_forecasting_spark.forecast.model import batched_fit_predict_long

    run = tracer.named("pipeline.run")[0]
    tables = tracer.named("pipeline.table", run)
    listing = tracer.named("catalog.list_tables", run)
    writes = tracer.named("catalog.write_table", run)
    build = tracer.named("forecast.transform", run) + tracer.named("relational.ordered_for_sink", run)
    probes = tracer.named("trace.catalyst", run)
    d = tracer.duration
    out = {
        "pipeline.table_s": statistics.median(d(t) for t in tables),
        "pipeline.self_s": statistics.median(tracer.self_time(t) for t in tables),
        "pipeline.jobs_per_table": statistics.median(len(tracer.jobs_under(t)) for t in tables),
        "pipeline.span_coverage": (sum(map(d, tables)) + sum(map(d, listing))) / d(run),
        "forecast.build_s": sum(map(d, build)),
        "catalog.write_s": sum(map(d, writes)),
        "catalog.write_jobs": sum(len(tracer.jobs_under(w)) for w in writes),
        "catalog.bytes_written": res["bytes_out"],
        "catalog.write_amp": res["bytes_out"] / res["bytes_in"],
        "trace.run_s": res["run_s"],
    }
    for phase in ("analysis_ms", "optimization_ms", "planning_ms"):
        out[f"catalyst.{phase}"] = sum(p["catalyst"][phase] for p in probes)
    out.update({f"spark.{k}": v for k, v in tracer.spark_totals(run).items()})
    # the model alone, in this process, on the workload's own series
    frames = [long_frame(db, t, metric_names(spec)) for t in res["names"]]
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        for pdf in frames:
            batched_fit_predict_long(pdf, ["metric"], periods=INTERVAL)
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    n_series = sum(pdf["metric"].nunique() for pdf in frames)
    out["model.fit_ms_per_series"] = best * 1000.0 / n_series
    return out


def metric_names(spec: dict) -> list[str]:
    return [f"m{m:03d}" for m in range(spec["metrics"])]


# --- query workload ---------------------------------------------------------


def run_queries(spark, data_dir: str, tracer) -> dict:
    """One timed pass over the queries; a traced run then makes a second
    pass in the same session, with warm caches, for the per-layer figures."""
    from clickhouse_forecasting_spark import runtime_cache
    from clickhouse_forecasting_spark.queries import SPARK_QUERIES

    from checks import result_hash

    passes: list[dict] = []  # per pass: query -> {"s", "hash" | "error"}
    frames: dict = {}  # first-pass DataFrames, for the traced plan reads
    cache_entries: list[int] = []

    def one_pass() -> dict:
        res = {}
        for q in QUERIES:
            t = time.perf_counter()
            try:
                if tracer is None:
                    df = SPARK_QUERIES[q](spark, data_dir)
                    rows = df.collect()
                else:
                    with tracer.span(f"{q}.build"):
                        df = SPARK_QUERIES[q](spark, data_dir)
                    with tracer.span(f"{q}.collect"):
                        rows = df.collect()
                res[q] = {"s": time.perf_counter() - t, "df": df, "rows": rows}
            except Exception:  # a failed query is counted, the run goes on
                traceback.print_exc()
                res[q] = {"s": time.perf_counter() - t, "error": True}
        return res

    times = []
    for _ in range(2 if tracer is not None else 1):
        t = time.perf_counter()
        if tracer is None:
            res = one_pass()
        else:
            with tracer.span("query.pass"):
                res = one_pass()
        times.append(time.perf_counter() - t)
        cache_entries.append(len(runtime_cache.entries()))
        for q, r in res.items():
            if "rows" in r:
                df = r.pop("df")
                if tracer is not None and not passes:
                    frames[q] = df
                r["hash"] = result_hash(df.columns, r.pop("rows"))
        passes.append(res)
        if tracer is not None:
            tracer.collect_jobs()
    return {"run_s": times[0], "times": times, "passes": passes, "frames": frames,
            "cache_entries": cache_entries}


def query_layers(spark, tracer, res: dict) -> dict:
    from clickhouse_forecasting_spark import telemetry

    from tracing import catalyst_phases, storage_mb

    first = tracer.named("query.pass")[0]
    out = {
        "trace.run_s": res["run_s"],
        "query.rerun_s": res["times"][1],
        "runtime_cache.entries": res["cache_entries"][0],
        "runtime_cache.storage_mb": storage_mb(spark),
    }
    out.update({f"spark.{k}": v for k, v in tracer.spark_totals(first).items()})
    totals = {"query.build_s": 0.0, "query.build_jobs": 0, "query.collect_s": 0.0, "query.transfer_s": 0.0}
    cat = {"analysis_ms": 0.0, "optimization_ms": 0.0, "planning_ms": 0.0}
    for q in QUERIES:
        build = tracer.named(f"{q}.build", first)
        collect = tracer.named(f"{q}.collect", first)
        if not build or not collect:
            continue
        b, c = build[0], collect[0]
        m = {
            "build_s": tracer.duration(b),
            "build_jobs": len(tracer.jobs_under(b)),
            "collect_s": tracer.duration(c),
            "transfer_s": tracer.duration(c) - tracer.job_busy(c),
            "rerun_s": res["passes"][1][q]["s"],
        }
        m.update(catalyst_phases(res["frames"][q]))
        spark_q = tracer.spark_totals(b)
        for k, v in tracer.spark_totals(c).items():
            spark_q[k] += v
        m.update({k: v for k, v in spark_q.items() if k in PER_QUERY})
        # scanned file bytes from the executed plan, not stage input bytes
        m["scan_mb"] = telemetry.query_metrics(res["frames"][q])["bytes_scanned"] / 2**20
        out.update({f"{q}.{k}": v for k, v in m.items()})
        totals["query.build_s"] += m["build_s"]
        totals["query.build_jobs"] += m["build_jobs"]
        totals["query.collect_s"] += m["collect_s"]
        totals["query.transfer_s"] += m["transfer_s"]
        for k in cat:
            cat[k] += m[k]
    out.update(totals)
    out.update({f"catalyst.{k}": v for k, v in cat.items()})
    return out


# --- one run ----------------------------------------------------------------


def execute(spec: dict, seed: int, trace: bool, work: str) -> dict:
    """Generate, set up, time, check. Returns the result record."""
    t = time.perf_counter()
    if spec["kind"] == "catalog":
        db = os.path.join(work, "db")
        inputs.write_catalog(db, seed, spec["prefix"], spec["tables"], spec["metrics"], HISTORY_DAYS)
        warm_path = os.path.join(db, f"{spec['prefix']}_00.parquet")
    else:
        db = os.path.join(work, "star")
        inputs.write_star(db, seed, spec["scale"], spec["docs"], spec["words"])
        warm_path = os.path.join(db, "lineitem.parquet")
    gen_s = time.perf_counter() - t

    spark = start_spark()
    try:
        warm_up(spark, warm_path)
        setup_s = time.perf_counter() - _T_PROCESS - gen_s
        tracer = None
        if trace:
            from tracing import Tracer, jvm_peak_rss_mb

            tracer = Tracer(spark)
            install_spans(tracer)
        if spec["kind"] == "catalog":
            res = run_catalog(spark, spec, db, tracer)
            layers = catalog_layers(tracer, res, spec, db) if trace else {}
            attempted, failed = catalog_outcome(res, spec, db, seed)
        else:
            res = run_queries(spark, db, tracer)
            layers = query_layers(spark, tracer, res) if trace else {}
            attempted, failed = query_outcome(res, db)
        if trace:
            layers["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
            layers["runtime_cache.lookups"] = tracer.counts.get("lookups", 0)
            layers["runtime_cache.hits"] = tracer.counts.get("hits", 0)
    finally:
        stop_spark(spark)

    if trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "run_s": res["run_s"]}
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "spans": tracer.dump() if trace else [],
    }


def catalog_outcome(res: dict, spec: dict, db: str, seed: int) -> tuple[int, int]:
    """One operation per (table, metric) series."""
    from checks import check_catalog, sample_series

    tables = {t: metric_names(spec) for t in res["names"]}
    failed = check_catalog(
        db, tables, INTERVAL, HISTORY_DAYS, res["counters"], sample_series(seed, tables, HASH_SAMPLE)
    )
    return sum(len(m) for m in tables.values()), len(failed)


def query_outcome(res: dict, db: str) -> tuple[int, int]:
    """One operation per query execution: an exception or a result that
    differs from the DuckDB oracle counts as failed."""
    from clickhouse_forecasting_spark.queries import ORACLE_QUERIES

    from checks import oracle_hashes

    expected = oracle_hashes(db, {q: ORACLE_QUERIES[q] for q in res["passes"][0]}, QUERY_TABLES)
    attempted = failed = 0
    for p in res["passes"]:
        for q, r in p.items():
            attempted += 1
            failed += r.get("hash") != expected[q]
    return attempted, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="accepted; the work is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "clickhouse_forecasting_spark")):
        sys.exit("perfbench: run from the root of a source checkout (engine package not found)")

    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        host = size_host(work)
        result = execute(WORKLOADS[args.workload], args.seed, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spans = result.pop("spans")
    if spans:
        print(json.dumps({"spans": spans}))
    print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
