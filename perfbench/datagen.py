"""Seeded synthetic inputs for the benchmark workloads.

Every table mirrors the column names, types and value domains of the
package's TPC-H-ish test tables (``zcollection_spark.data.TABLES``), so
the registry operators and their DuckDB oracles run on it unchanged.
The same ``seed`` always yields byte-identical parquet files; nothing
here reads the clock or the environment.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
VOCAB = np.array((
    "a the data spark stream batch table row column key value part line "
    "order customer join group agg sort hash filter scan window merge "
    "query vector big small fast slow").split())
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _write(table: pa.Table, path: Path) -> Path:
    # one row group per file, like the package's test tables: the scan
    # task count (and so the plan shape) matches the graded data tier
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
    return path


def events(n_rows: int, n_days: int, seed: int) -> pa.Table:
    """Event stream over ``n_days`` days from 2024-01-01, axis ``ts``."""
    rng = np.random.default_rng([seed, 1])
    span_us = n_days * 86_400 * 1_000_000
    # strictly increasing: the upsert merge keys rows on the axis value
    ts = np.sort(rng.integers(0, span_us - n_rows, n_rows)) \
        + np.arange(n_rows)
    value = np.round(np.minimum(rng.exponential(50.0, n_rows), 560.0), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)]
    return pa.table({
        "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "ts": pa.array(np.datetime64(EPOCH, "us") + ts.astype("m8[us]"),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_rows)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_rows)),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def documents(n_docs: int, seed: int) -> pa.Table:
    """Bag-of-words corpus with planted exact and near duplicates, so the
    dedup operators find real candidate pairs."""
    rng = np.random.default_rng([seed, 2])
    lengths = rng.integers(8, 100, n_docs)
    words = [list(rng.choice(VOCAB, n)) for n in lengths]
    # ~1 % of documents copy an earlier one: half verbatim, half with a
    # single word swapped (a near duplicate for MinHash/LSH)
    for i in rng.choice(np.arange(10, n_docs), n_docs // 100,
                        replace=False):
        src = list(words[int(rng.integers(0, i))])
        if rng.random() < 0.5:
            src[int(rng.integers(0, len(src)))] = str(rng.choice(VOCAB))
        words[i] = src
    text = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{k}" for k in
                            rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in text],
                                     dtype=np.int64)),
    })


def embeddings(n_vecs: int, seed: int, dim: int = 64,
               n_labels: int = 10) -> pa.Table:
    """Unit vectors scattered around ``n_labels`` cluster centres."""
    rng = np.random.default_rng([seed, 3])
    centres = rng.normal(size=(n_labels, dim))
    label = rng.integers(0, n_labels, n_vecs)
    vec = centres[label] * 0.5 + rng.normal(size=(n_vecs, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)) \
        .astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def lineitem(n_rows: int, seed: int) -> pa.Table:
    """TPC-H lineitem with 2-dp money columns (the exact-sum contract of
    the pricing operators assumes at most two decimals)."""
    rng = np.random.default_rng([seed, 4])
    qty = rng.integers(1, 51, n_rows).astype(np.float64)
    unit = rng.integers(90_000, 210_000, n_rows) / 100.0
    ship = (np.datetime64("1995-01-02", "us")
            + (rng.integers(0, 2500, n_rows) * 86_400_000_000)
            .astype("m8[us]"))
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_rows // 4 + 1, n_rows)),
        "l_partkey": pa.array(rng.integers(0, 20_000, n_rows)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n_rows)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_rows)
                                 .astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * unit, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_rows) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_rows) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]),
                                            n_rows)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_rows)),
        "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
    })


def write_events(out: Path, n_rows: int, n_days: int, seed: int) -> Path:
    out.mkdir(parents=True, exist_ok=True)
    return _write(events(n_rows, n_days, seed), out / "events.parquet")


def write_operator_tables(out: Path, seed: int, *, n_docs: int,
                          n_vecs: int, n_lines: int) -> Path:
    """The three tables the operator workload reads, as an ``sf_dir``."""
    out.mkdir(parents=True, exist_ok=True)
    _write(documents(n_docs, seed), out / "documents.parquet")
    _write(embeddings(n_vecs, seed), out / "embeddings.parquet")
    _write(lineitem(n_lines, seed), out / "lineitem.parquet")
    return out
