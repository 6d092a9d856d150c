"""Seeded input generation: the fixture tables the query registry reads,
and the small parquet shards the ingest loop lands.

Schemas and value domains follow the repository's fixture description
(``FIXTURES.md``): a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``, one parquet file per table.  Every
value comes from ``numpy.random.default_rng(seed)``, so one seed always
gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "cold", "green", "dark"]
PART_NOUN = ["ring", "bolt", "gear", "pipe", "nut", "valve", "spring", "rod"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: date ranges of the fixture tables, as numpy day numbers
_ORDER_DAYS = (np.datetime64("1995-01-01"), np.datetime64("2001-08-01"))
_SHIP_DAYS = (np.datetime64("1995-01-02"), np.datetime64("2001-11-04"))
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, bounds, n: int) -> np.ndarray:
    lo, hi = bounds
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)


def lineitem_columns(rng, n: int, n_orders: int, n_parts: int,
                     n_supps: int, first_key: int = 0) -> dict:
    """``n`` lineitem rows; ``first_key`` offsets ``l_orderkey`` so the
    ingest loop can land batches with disjoint, growing key ranges."""
    return {
        "l_orderkey": (first_key + rng.integers(0, n_orders, n)).astype(np.int64),
        "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supps, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, _SHIP_DAYS, n),
    }


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(12, 99, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    # exact duplicate pairs, as in the fixtures (about one per 600 docs)
    n_pairs = max(1, n // 600)
    src = rng.choice(n, size=2 * n_pairs, replace=False)
    for a, b in zip(src[:n_pairs], src[n_pairs:]):
        texts[a] = texts[a] + " dup"
        texts[b] = texts[a]
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> pa.Array:
    # near-uniform unit vectors, like the fixture cloud
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def generate_fixtures(out_dir: str, seed: int, sf: float,
                      n_docs: int, n_vecs: int) -> None:
    """Write every fixture table under ``out_dir``.

    ``sf`` scales the star schema and ``events`` like the repository's
    fixtures (lineitem = 6,000,000 x sf rows); ``documents`` and
    ``embeddings`` have their own sizes."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    })
    nk = np.arange(25, dtype=np.int32)
    _write(out_dir, "nation", {
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": (nk % 5).astype(np.int32),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, _ORDER_DAYS, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem",
           lineitem_columns(rng, n_line, n_ord, n_part, n_supp))
    offs = np.sort(rng.integers(0, EVENT_SPAN_US, n_evt))
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": EVENT_START + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": _embeddings(rng, n_vecs),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
