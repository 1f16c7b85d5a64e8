"""Seeded input generator for the benchmark.

Writes the engine's testdata tables (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet
file each, with the schemas and value domains of ``schemas.TESTDATA``,
and the transaction history and landed CSV files of the ``ingest``
workload. Everything is drawn from ``numpy.random.default_rng(seed)``,
so the same seed gives identical inputs; the row counts depend only
on the scale, so every seed gives the same amount of work.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
COLORS = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
EMBED_DIM = 64

def _days(lo: str, hi: str, n: int, rng: np.random.Generator) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, (b - a).astype(int) + 1, n)
    return (a + d).astype("datetime64[us]")


def _pick(options, n: int, rng: np.random.Generator, p=None) -> np.ndarray:
    return np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)]


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tables(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> dict:
    """Write the ten testdata tables at scale ``sf`` (lineitem has
    6,000,000 × sf rows, as in the tables TESTDATA.md lists) and return their
    row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(SEGMENTS, n_cust, rng),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_supp)),
    })
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": _pick(COLORS, n_part, rng) + " " + _pick(NOUNS, n_part, rng),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object),
        "p_type": _pick(PART_TYPES, n_part, rng),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _round2(900.0 + (keys % 1000) / 10.0),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(ORDER_STATUS, n_ord, rng),
        "o_totalprice": _round2(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": _pick(PRIORITIES, n_ord, rng),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _round2(rng.uniform(900.0, 105000.0, n_li)),
        "l_discount": _round2(rng.uniform(0.0, 0.1, n_li)),
        "l_tax": _round2(rng.uniform(0.0, 0.08, n_li)),
        "l_returnflag": _pick(("A", "N", "R"), n_li, rng),
        "l_linestatus": _pick(("F", "O"), n_li, rng),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(EVENT_TYPES, n_ev, rng),
        "value": _round2(rng.exponential(50.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # 5 % of documents re-send an earlier document with " dup" appended,
    # so the dedup operators always have near-duplicates to find.
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(_pick(WORDS, n_words, rng)))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(LANGS, n_docs, rng, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = rng.normal(0.0, 1.0, (n_vecs, EMBED_DIM)) + 0.6 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    return {"lineitem": n_li, "orders": n_ord, "events": n_ev,
            "documents": n_docs, "embeddings": n_vecs}


# ------------------------------------------------------------------ ingest

TXN_HEADER = ("transaction_id", "date", "timestamp", "amount", "category",
              "description", "transaction_type", "account", "location")
INCOME = ("salary", "freelance", "investment", "bonus")
EXPENSES = (
    ("food", "Groceries"), ("food", "Restaurant"), ("transport", "Gas"),
    ("transport", "Public Transit"), ("utilities", "Electricity"),
    ("utilities", "Internet"), ("entertainment", "Streaming"),
    ("entertainment", "Movies"), ("shopping", "Clothes"),
    ("shopping", "Electronics"), ("healthcare", "Pharmacy"),
    ("healthcare", "Doctor"),
)
ACCOUNTS = ("checking", "savings", "credit_card")
LOCATIONS = ("Online", "New York", "Los Angeles", "Chicago", "Houston")
RESEND = 0.2  # share of a landed file's ids that re-send an earlier id
BLANK = 0.01  # chance that a landed row's amount is blank


@dataclass
class IngestInputs:
    history: list[tuple]  # raw rows already in the upsert target
    files: list[list[tuple]]  # one list of raw rows per landed CSV file


def _messy(s: str, r: float) -> str:
    """Untrimmed, mixed-case text as an upstream system sends it; the
    transform trims and title-cases it."""
    if r < 0.25:
        return f"  {s.upper()} "
    if r < 0.5:
        return f" {s.lower()}"
    return s


def _txn_rows(rng: np.random.Generator, ids: list[str], blank_p: float) -> list[tuple]:
    rows = []
    for tid in ids:
        day = dt.date(2024, 1, 1) + dt.timedelta(days=int(rng.integers(0, 90)))
        sec = int(rng.integers(6 * 3600, 23 * 3600))
        stamp = f"{day} {sec // 3600:02d}:{sec % 3600 // 60:02d}:{sec % 60:02d}"
        if rng.random() < 0.3:
            ttype, cat = "income", INCOME[int(rng.integers(0, len(INCOME)))]
            desc, amount = cat.title(), round(float(rng.uniform(500, 5000)), 2)
        else:
            ttype = "expense"
            cat, desc = EXPENSES[int(rng.integers(0, len(EXPENSES)))]
            amount = -round(float(rng.uniform(10, 500)), 2)
        amt = "" if rng.random() < blank_p else f"{amount:.2f}"
        rows.append((
            tid, str(day), stamp, amt, _messy(cat, rng.random()),
            _messy(desc, rng.random()), ttype,
            ACCOUNTS[int(rng.integers(0, len(ACCOUNTS)))],
            _messy(LOCATIONS[int(rng.integers(0, len(LOCATIONS)))], rng.random()),
        ))
    return rows


def ingest_inputs(seed: int, n_history: int, n_files: int,
                  rows_per_file: int) -> IngestInputs:
    """A seeded transaction history and ``n_files`` landed files. Within a
    file every ``transaction_id`` is distinct; ``RESEND`` of a file's ids
    re-send an id already in the history or an earlier file, and about
    ``BLANK`` of its amounts are blank."""
    rng = np.random.default_rng(seed)
    history = _txn_rows(rng, [f"TXN_H_{i:07d}" for i in range(n_history)], 0.0)
    seen = [r[0] for r in history]
    files = []
    for f in range(n_files):
        n_re = int(round(rows_per_file * RESEND))
        re_ids = list(rng.choice(np.asarray(seen, dtype=object), n_re, replace=False))
        new_ids = [f"TXN_F{f:02d}_{i:05d}" for i in range(rows_per_file - n_re)]
        ids = re_ids + new_ids
        rng.shuffle(ids)
        files.append(_txn_rows(rng, ids, BLANK))
        seen.extend(new_ids)
    return IngestInputs(history, files)


def write_csv(path: str, rows: list[tuple]) -> int:
    """Write rows as a headed CSV; returns the file's size in bytes."""
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(TXN_HEADER)
        w.writerows(rows)
    return os.path.getsize(path)
