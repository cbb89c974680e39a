"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow: no Spark, so generation time never
leaks into the measured set-up or run. The same ``(seed, shape)`` always
writes byte-identical parquet files.

Two families:

- forecast catalogs: a directory of ``<table>.parquet`` files, each a wide
  daily table (``date`` + DOUBLE metrics + one STRING column the schema
  skip-list must drop), the input contract of the forecast CLI;
- a TPC-H-shaped star (lineitem, orders, supplier, part) plus a
  ``documents`` corpus, with the column names, types and value ranges of
  the engine's sf0.1 test data, for the registered query paths.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = dt.date(1970, 1, 1)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def catalog_table(seed: int, index: int, n_metrics: int, days: int) -> pa.Table:
    """One wide daily table: trend + weekly + yearly seasonality + noise
    per metric, all positive, plus a ``label`` STRING decoy column."""
    rng = np.random.default_rng([seed, index])
    start = dt.date(2022, 1, 1) + dt.timedelta(days=int(rng.integers(0, 365)))
    t = np.arange(days, dtype=np.float64)
    cols: dict[str, pa.Array] = {
        "date": pa.array(
            np.arange(days, dtype=np.int32) + (start - _EPOCH).days, pa.int32()
        ).cast(pa.date32())
    }
    for m in range(n_metrics):
        level = rng.uniform(50.0, 5000.0)
        trend = rng.uniform(-0.2, 0.6) * level / days
        weekly = rng.uniform(0.02, 0.2) * level
        yearly = rng.uniform(0.0, 0.3) * level
        phase_w, phase_y = rng.uniform(0.0, 2 * np.pi, 2)
        noise = rng.normal(0.0, rng.uniform(0.01, 0.08) * level, days)
        y = (
            level
            + trend * t
            + weekly * np.sin(2 * np.pi * t / 7.0 + phase_w)
            + yearly * np.sin(2 * np.pi * t / 365.25 + phase_y)
            + noise
        )
        cols[f"m{m:03d}"] = pa.array(np.round(np.abs(y), 3))
    cols["label"] = pa.array(
        np.char.add("seg-", rng.integers(0, 16, days).astype(str)).tolist(), pa.string()
    )
    return pa.table(cols)


def write_catalog(root: str, seed: int, prefix: str, n_tables: int, n_metrics: int, days: int) -> list[str]:
    """Write ``n_tables`` catalog tables under ``root``; returns the names."""
    os.makedirs(root, exist_ok=True)
    names = []
    for i in range(n_tables):
        name = f"{prefix}_{i:02d}"
        _write(catalog_table(seed, i, n_metrics, days), os.path.join(root, f"{name}.parquet"))
        names.append(name)
    return names


# --- TPC-H-shaped star + documents ----------------------------------------

_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_PART_WORDS = ["large", "hot", "blue", "old", "cold", "small"]
_PART_NOUNS = ["ring", "bolt", "plate", "gear", "nut", "pipe"]
_PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _ts(rng: np.random.Generator, n: int, first: dt.date, span_days: int) -> pa.Array:
    days = rng.integers(0, span_days, n) + (first - _EPOCH).days
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"))


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def star_tables(seed: int, scale: float, n_docs: int, words: tuple[int, int]) -> dict[str, pa.Table]:
    """lineitem / orders / supplier / part at ``scale`` (1.0 ~ 6M lineitem
    rows) and ``n_docs`` documents of ``words`` = (min, max) words each."""
    rng = np.random.default_rng([seed, 7])
    n_orders = max(10, int(1_500_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(25, int(200_000 * scale))

    part_brand = rng.integers(1, 26, n_part)
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([
            f"{_PART_WORDS[a]} {_PART_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in part_brand]),
        "p_type": _choice(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + np.arange(n_part) % 1000 * 0.1, 2)),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })

    # 1-7 lines per order, numbered 1..n within the order
    lines = rng.integers(1, 8, n_orders)
    n_lines = int(lines.sum())
    l_orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(n_lines) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    l_partkey = rng.integers(0, n_part, n_lines)
    unit = 900.0 + l_partkey % 1000 * 0.1 + rng.integers(0, 1100, n_lines) * 1.0
    price = np.round(qty * unit, 2)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_orderkey),
        "l_partkey": pa.array(l_partkey.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines).astype(np.int64)),
        "l_linenumber": pa.array(l_linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_lines),
        "l_linestatus": _choice(rng, ["F", "O"], n_lines),
        "l_shipdate": _ts(rng, n_lines, dt.date(1995, 1, 2), 2500),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(1, n_orders // 10), n_orders).astype(np.int64)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_orders), 2)),
        "o_orderdate": _ts(rng, n_orders, dt.date(1995, 1, 1), 2400),
        "o_orderpriority": _choice(rng, _PRIORITIES, n_orders),
    })

    # documents: random word runs, ~5% near-duplicates of an earlier doc
    # (one word replaced) and a few exact copies, so LSH has real pairs
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts.append(" ".join(toks))
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(words[0], words[1] + 1))
            texts.append(" ".join(_VOCAB[k] for k in rng.integers(0, len(_VOCAB), n)))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _choice(rng, _LANGS, n_docs),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return {
        "lineitem": lineitem, "orders": orders, "supplier": supplier,
        "part": part, "documents": documents,
    }


def write_star(root: str, seed: int, scale: float, n_docs: int, words: tuple[int, int]) -> dict[str, int]:
    """Write the star tables under ``root``; returns rows per table."""
    os.makedirs(root, exist_ok=True)
    rows = {}
    for name, table in star_tables(seed, scale, n_docs, words).items():
        _write(table, os.path.join(root, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
