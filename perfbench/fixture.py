"""Deterministic synthetic fixture tables for the benchmark.

Writes the ten catalog tables (``dbt_eamples_spark.catalog.TABLES``)
as single-row-group parquet files with the schemas in FIXTURES.md and
the same value shapes as the repo's test fixtures: a TPC-H-like star
(region/nation/customer/supplier/part/orders/lineitem), an ``events``
stream, ``documents`` drawn from a 30-word vocabulary with ~5%
planted near-duplicates (a copy of an earlier text plus the token
``dup``), and unit-norm 64-d ``embeddings`` with random labels.

The tables are a function of ``(scale, FIXTURE_SEED)`` only. The
workload seed never changes them; it picks the requests, samples,
splits and batches drawn from them.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64


def row_counts(scale: float) -> dict[str, int]:
    n = lambda base, floor=1: max(floor, int(round(base * scale)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000, 150),
        "supplier": n(10_000, 10),
        "part": n(200_000, 200),
        "orders": n(1_500_000, 1_500),
        "lineitem": n(6_000_000, 6_000),
        "events": n(1_000_000, 1_000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(epoch + offsets_us.astype(np.int64), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _tables(scale: float):
    rng = np.random.default_rng(FIXTURE_SEED)
    c = row_counts(scale)
    day_us = 86_400 * 1_000_000
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    money = lambda lo, hi, k: pa.array(np.round(rng.uniform(lo, hi, k), 2))  # noqa: E731

    yield "region", {
        "r_regionkey": i32(np.arange(5)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }
    yield "nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5),
    }
    k = c["customer"]
    yield "customer", {
        "c_custkey": i64(np.arange(k)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": i32(rng.integers(0, 25, k)),
        "c_acctbal": money(-999.99, 9999.99, k),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], k
        ),
    }
    k = c["supplier"]
    yield "supplier", {
        "s_suppkey": i64(np.arange(k)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": i32(rng.integers(0, 25, k)),
        "s_acctbal": money(-999.99, 9999.99, k),
    }
    k = c["part"]
    adj = ["large", "hot", "blue", "red", "small", "green", "cold", "dark"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
    yield "part", {
        "p_partkey": i64(np.arange(k)),
        "p_name": pa.array(
            [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (k, 2))]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
        "p_type": _pick(
            rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], k
        ),
        "p_size": i32(rng.integers(1, 51, k)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(k) % 1000) / 10, 2)),
    }
    k = c["orders"]
    yield "orders", {
        "o_orderkey": i64(np.arange(k)),
        "o_custkey": i64(rng.integers(0, c["customer"], k)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": money(1000.0, 500000.0, k),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, k) * day_us),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], k
        ),
    }
    k = c["lineitem"]
    yield "lineitem", {
        "l_orderkey": i64(rng.integers(0, c["orders"], k)),
        "l_partkey": i64(rng.integers(0, c["part"], k)),
        "l_suppkey": i64(rng.integers(0, c["supplier"], k)),
        "l_linenumber": i32(rng.integers(1, 8, k)),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": money(900.0, 105000.0, k),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2498, k) * day_us),
    }
    k = c["events"]
    users = max(100, int(round(15_000 * scale)))
    yield "events", {
        "event_id": i64(np.arange(k)),
        "ts": _ts(
            dt.datetime(2024, 1, 1),
            np.sort(rng.integers(0, 30 * day_us, k)),
        ),
        "user_id": i64(rng.integers(0, users, k)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], k),
        "value": pa.array(np.round(rng.exponential(60.0, k), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
    }
    k = c["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(k):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    langs = ["en"] * 8 + ["de", "de", "es", "es", "fr", "fr", "zh", "zh"]
    yield "documents", {
        "doc_id": i64(np.arange(k)),
        "text": pa.array(texts),
        "lang": _pick(rng, langs, k),
        "source": pa.array([f"src{i % 20}" for i in range(k)]),
        "n_chars": i64([len(t) for t in texts]),
    }
    k = c["embeddings"]
    x = rng.standard_normal((k, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    yield "embeddings", {
        "vec_id": i64(np.arange(k)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, k)),
    }


def write_fixture(out_dir: str, scale: float, tables: tuple[str, ...] | None = None) -> dict[str, int]:
    """Write the fixture at ``scale`` (1.0 = TPC-H sf1 row counts) into
    ``out_dir/<table>.parquet``; returns rows written per table. With
    ``tables`` only those files are written, but every table is still
    drawn, so a table's content never depends on which others are
    written."""
    os.makedirs(out_dir, exist_ok=True)
    written: dict[str, int] = {}
    for name, cols in _tables(scale):
        if tables is not None and name not in tables:
            continue
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(t) or 1)
        written[name] = t.num_rows
    return written
