"""clickhouse_forecasting_spark — a PySpark-native analytics + forecasting engine.

A brand-new engine with the query and data-processing capabilities of the
reference batch forecasting pipeline (``DasNerdwork/clickhouse-forecasting``,
studied in SURVEY.md), re-expressed Spark-first:

- the relational surface (projection, type-driven column pruning, a
  one-generator unpivot, date-axis generation, a one-aggregation pivot,
  ordered sink) is plain DataFrame / Spark SQL so Catalyst owns pushdown,
  pruning and join strategy;
- the per-(table, metric) time-series fit/predict runs distributed in one
  keyed ``mapInPandas`` stage that fits many series per partition, batched,
  instead of a sequential driver loop (reference: forecast_script.py:169-177
  runs one core, one column at a time);
- beyond the reference surface, LLM-data-pipeline operators (dedup,
  similarity search, text analysis, multimodal columns) and a Structured
  Streaming rollup are first-class modules.

Layout:
    session     — tuned SparkSession builders (AQE, UTC, Arrow, shuffle sizing)
    catalog     — namespace-as-directory-of-parquet catalog ops (SURVEY C1-C6)
    schema      — type skip-list pruning + derived forecast schemas (R2, C5)
    relational  — DataFrame combinators for R1-R13
    forecast    — additive-model forecaster, distributed via mapInPandas (M1-M4)
    pipeline    — catalog orchestration == reference main() semantics
    cli         — argparse surface parity (S2)
    telemetry   — rotating log + run counters (O1-O3)
    functions   — text analysis, dedup, similarity (BASELINE.json extensions)
    streaming   — Structured Streaming daily rollups feeding the forecaster
    multimodal  — binary-column plumbing for image/audio payloads
"""

__version__ = "0.1.0"
