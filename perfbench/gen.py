"""Seeded inputs for the benchmark.

Every table is built from a ``numpy.random.Generator`` so one seed gives
byte-identical parquet files. The schemas are the ones the package reads
(``documents``: doc_id, text, lang, source, n_chars; the TPC-H-like star
schema; ``events``; ``embeddings``), and the value domains follow the
fixture tables the package's queries were written against: a 30-word
technical vocabulary, five languages, five sources, TPC-H flag and
segment codes, five event types with a small JSON ``props`` payload.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
WORDS_PER_DOC = (8, 64)  # inclusive range of words in one document
EMBED_DIM = 64


def documents(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    """``n`` documents with ids ``first_id ..``; words drawn uniformly
    from VOCAB, so every question built from VOCAB matches something."""
    lo, hi = WORDS_PER_DOC
    lengths = rng.integers(lo, hi + 1, size=n)
    words = np.asarray(VOCAB, dtype=object)[
        rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    ]
    ends = np.cumsum(lengths)
    text = [" ".join(words[e - k : e]) for e, k in zip(ends, lengths)]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": text,
            "lang": np.asarray(LANGS, dtype=object)[
                rng.choice(len(LANGS), size=n, p=LANG_P)
            ],
            "source": [f"src{i % 5}" for i in ids],
            "n_chars": np.fromiter(map(len, text), dtype=np.int64, count=n),
        }
    )


def questions(rng: np.random.Generator, n: int, first_id: int = 1) -> list[tuple[int, str]]:
    """``n`` (question_id, text) pairs of 4-9 VOCAB words each."""
    out = []
    for qid in range(first_id, first_id + n):
        k = int(rng.integers(4, 10))
        out.append((qid, " ".join(rng.choice(VOCAB, size=k))))
    return out


def write_corpus(root: str, rng: np.random.Generator, n_docs: int) -> str:
    """A directory holding only ``documents.parquet``; returns it."""
    os.makedirs(root, exist_ok=True)
    pq.write_table(documents(rng, n_docs), os.path.join(root, "documents.parquet"))
    return root


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _days(rng, start: datetime, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.integers(0, span_days, size=n).astype("timedelta64[D]")
    return pa.array((base + d).astype("datetime64[us]"))


def relational_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The star schema, ``events``, ``embeddings`` and ``documents`` at
    scale factor ``sf`` (lineitem ≈ 6M·sf rows, as in TPC-H)."""
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(20_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_evt = max(10, int(1_000_000 * sf))
    n_user = max(5, int(15_000 * sf))
    n_docs = max(10, int(50_000 * sf))
    n_emb = max(10, int(5_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adjs = np.array(["small", "red", "blue", "large", "green", "steel", "brass", "shiny"], dtype=object)
    nouns = np.array(["ring", "widget", "bolt", "gear", "nut", "valve", "pipe", "spring"], dtype=object)
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], dtype=object)
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": adjs[rng.integers(0, 8, n_part)] + " " + nouns[rng.integers(0, 8, n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": ptypes[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 2),
        }
    )
    prios = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, datetime(1995, 1, 1), 2400, n_ord),
            "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
        }
    )
    # lineitem: each row picks an order; line numbers count within the order.
    l_ord = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    first = np.r_[True, l_ord[1:] != l_ord[:-1]]
    starts = np.flatnonzero(first)
    run_id = np.cumsum(first) - 1
    linenum = np.arange(n_line) - starts[run_id] + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": l_ord,
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(linenum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, datetime(1995, 1, 2), 2500, n_line),
        }
    )
    etypes = np.array(["click", "error", "purchase", "signup", "view"], dtype=object)
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_evt))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": pa.array(
                np.datetime64(datetime(2024, 1, 1), "us") + ev_us.astype("timedelta64[us]")
            ),
            "user_id": rng.integers(0, n_user, n_evt).astype(np.int64),
            "event_type": etypes[rng.integers(0, 5, n_evt)],
            "value": np.round(rng.exponential(50.0, n_evt) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    emb = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.ravel()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    t["documents"] = documents(rng, n_docs)
    return t


def write_tables(root: str, tables: dict[str, pa.Table]) -> str:
    os.makedirs(root, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(root, f"{name}.parquet"))
    return root

