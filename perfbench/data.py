"""Synthetic inputs for the benchmark.

The tables mirror the shape of the repo's test data (an append-only
``events`` stream and a ``documents`` corpus) but
are generated here, from a fixed recipe seed, so a run needs nothing outside
its checkout. ``--seed`` never changes the data: it drives the operation
sequence only, which lets the prepared tables be reused across runs.

Everything is written below the work directory (``.perfbench/data``).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RECIPE_SEED = 42
#: rows of ``events`` at scale factor 1 (the repo's sf0.1 has 100k)
EVENTS_PER_SF = 1_000_000
DOCS_PER_SF = 50_000
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86_400 * 1_000_000  # 30 days of events
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "zh", "fr", "es", "de"]
#: the ``events`` replica stride of the x-mult table (ids stay unique)
REPLICA_STRIDE = 100_000_000
#: files per date partition of the x-mult table: a single file per day would
#: cap the pruned tail scan at one task
FILES_PER_DAY = 16


def sf_tag(sf: float) -> str:
    return f"sf{sf:g}"


def _atomic_write(table: pa.Table, path: str) -> None:
    tmp = f"{path}.tmp-{os.getpid()}"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def events_table(sf: float) -> pa.Table:
    rng = np.random.default_rng(RECIPE_SEED)
    n = max(100, int(round(EVENTS_PER_SF * sf)))
    ts = np.sort(T0_US + rng.integers(0, SPAN_US, n))
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(sf: float) -> pa.Table:
    """A word-salad corpus over a 31-word vocabulary; one doc in twenty is a
    near-duplicate of an earlier doc (its text plus ``" dup"``), so the
    MinHash index finds real pairs."""
    rng = np.random.default_rng(RECIPE_SEED + 2)
    n = max(40, int(round(DOCS_PER_SF * sf)))
    texts: list = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(12, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def prepare_base(data_dir: str, sf: float) -> str:
    """Write events and documents for ``sf`` once; returns the dir."""
    out = os.path.join(data_dir, sf_tag(sf))
    os.makedirs(out, exist_ok=True)
    for name, make in (
        ("events", events_table),
        ("documents", documents_table),
    ):
        path = os.path.join(out, f"{name}.parquet")
        if not os.path.exists(path):
            _atomic_write(make(sf), path)
    return out


def prepare_multiplied(spark, data_dir: str, sf: float, mult: int) -> tuple:
    """``events`` x ``mult``: id-shifted replicas, PARTITIONED BY event date,
    about ``FILES_PER_DAY`` files per day (the layout a large event table
    has). Built once per recipe; returns ``(path, build_seconds)`` where the
    seconds are 0.0 when the table already existed."""
    from pyspark.sql import functions as F

    base = prepare_base(data_dir, sf)
    path = os.path.join(data_dir, f"{sf_tag(sf)}-events-x{mult}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path, 0.0
    t0 = time.perf_counter()
    raw = spark.read.parquet(os.path.join(base, "events.parquet"))
    out = (
        raw.withColumn("__r", F.explode(F.expr(f"sequence(0, {mult - 1})")))
        .withColumn(
            "event_id",
            F.col("event_id") + F.col("__r").cast("long") * F.lit(REPLICA_STRIDE),
        )
        .drop("__r")
        .withColumn("d", F.to_date(F.col("ts")))
    )
    out.repartition(
        F.col("d"), F.pmod(F.col("event_id"), F.lit(FILES_PER_DAY))
    ).write.mode("overwrite").partitionBy("d").parquet(path)
    return path, time.perf_counter() - t0
