"""Seeded corpus generator for the benchmark.

Writes the TPC-H-ish tables plus ``events``, ``documents`` and
``embeddings`` with the schemas of ``example_beam_spark.schemas`` (the
column names, types and value ranges of the repo's sf fixtures), so the
registry's queries and their DuckDB oracles run on them unchanged. The
same seed always gives the same rows; nothing is read from outside the
output directory.

Two layouts for ``events``:

- ``events.parquet`` as one file: a drain reads it as one data
  micro-batch;
- ``events.parquet/`` as a directory of time-ordered part files with
  strictly increasing modification times: the streaming file source
  (``maxFilesPerTrigger=1``) makes each file its own micro-batch and the
  watermark advances between them.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
AD_KEYS = 100
EVENT_SPAN_DAYS = 30
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")

_VOCAB = (
    "a the data spark stream batch window key value row column table query "
    "join merge sort hash scan filter group agg order line part vector fast "
    "slow big small customer event state"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_PART_ADJ = ("blue", "cold", "large", "small", "red", "green", "bright", "steel")
_PART_NOUN = ("bolt", "gizmo", "gear", "widget", "ring", "nut", "valve", "spring")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")


def _days(d0: str, d1: str) -> tuple[np.datetime64, int]:
    a = np.datetime64(d0, "D")
    return a, int((np.datetime64(d1, "D") - a).astype(int))


def _dates(rng, n: int, d0: str, d1: str) -> np.ndarray:
    a, span = _days(d0, d1)
    return (a + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def events_table(seed: int, n: int, users: int) -> pa.Table:
    """``n`` events over ``users`` users, uniform over the five event types
    and a 30-day span, sorted by time; ``event_id`` follows time order."""
    rng = np.random.default_rng([seed, 1])
    span_us = EVENT_SPAN_DAYS * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + EVENT_START.astype(np.int64)
    codes = rng.integers(0, len(EVENT_TYPES), n)
    keys = rng.integers(0, AD_KEYS, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[codes]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in keys.tolist()]),
        }
    )


def write_events(out_dir: str, seed: int, n: int, users: int, chunks: int = 1) -> int:
    """Write ``events`` as one file (``chunks == 1``) or as ``chunks``
    time-ordered part files; returns the row count written."""
    t = events_table(seed, n, users)
    path = os.path.join(out_dir, "events.parquet")
    if chunks == 1:
        _write(t, path)
        return t.num_rows
    os.makedirs(path)
    base, rem = divmod(n, chunks)
    start, now = 0, time.time()
    for i in range(chunks):
        length = base + (1 if i < rem else 0)
        f = os.path.join(path, f"part-{i:04d}.parquet")
        _write(t.slice(start, length), f)
        # strictly increasing, whole-second mtimes: the file source picks
        # the oldest file first, so batch order is time order
        mt = now - 86_400 + i * 10
        os.utime(f, (mt, mt))
        start += length
    return t.num_rows


def write_batch_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Every table the batch headline queries read, at scale ``sf``
    (``sf = 0.1`` gives the row counts of the sf0.1 fixture)."""
    rng = np.random.default_rng([seed, 2])
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    rows: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    put("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_part)]
    put("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(_PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) * 0.1, 1)),
    })
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": pa.array(_dates(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    flags = rng.integers(0, 6, n_line)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags // 2]),
        "l_linestatus": pa.array(np.array(["F", "O"])[flags % 2]),
        "l_shipdate": pa.array(_dates(rng, n_line, "1995-01-02", "2001-11-04")),
    })

    # documents: short texts over a small vocabulary, with a share of
    # exact and near duplicates so the dedup operators have work to find
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.08:
            toks = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(toks)))
            toks[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(toks))
        else:
            n_tok = int(rng.integers(8, 100))
            texts.append(" ".join(np.array(_VOCAB)[rng.integers(0, len(_VOCAB), n_tok)]))
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    # embeddings: 64-dim unit vectors around 10 labelled centres
    centres = rng.standard_normal((10, 64))
    labels = rng.integers(0, 10, n_emb)
    v = centres[labels] + 0.6 * rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return rows
