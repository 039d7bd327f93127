"""Seeded star-schema tables shaped like the engine's parquet testdata.

The catalog queries read ten parquet tables (``region nation customer
supplier part orders lineitem events documents embeddings``, one file
each, the layout ``sources.readers.load_table`` scans and
``tools/oracle_check.duck_connect`` views). This module writes them from a
seed with the same schemas, value domains and date ranges that the
queries' pinned ``as_of`` constants assume (``config.AS_OF_ORDERS``,
``config.AS_OF_EVENTS``), so the benchmark needs no data from outside its
checkout. Row counts follow the TPC-H scale factor: ``sf=0.1`` gives 600k
lineitem rows, 150k orders, 100k events and 5k documents.

The documents carry the dedup structure the curation operators look for:
5% of them repeat another document's text with a trailing ``dup`` token.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

ORDERS_START = dt.datetime(1995, 1, 1)
ORDERS_DAYS = (dt.datetime(2001, 8, 1) - ORDERS_START).days
SHIP_START = dt.datetime(1995, 1, 2)
SHIP_DAYS = (dt.datetime(2001, 11, 4) - SHIP_START).days
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_US = 30 * 86400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(start: dt.datetime, rng: np.random.Generator, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def build_tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    """Return the ten tables at scale factor ``sf`` (pure function of its
    arguments)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_orders = max(int(1_500_000 * sf), 10)
    n_line = max(int(6_000_000 * sf), 10)
    n_events = max(int(1_000_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 20)
    n_vecs = max(int(20_000 * sf), 10)
    n_users = max(int(15_000 * sf), 10)
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array(
                np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))
            ),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _days(ORDERS_START, rng, ORDERS_DAYS, n_orders),
            "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(SHIP_START, rng, SHIP_DAYS, n_line),
        }
    )
    offs = np.sort(rng.integers(0, EVENTS_US, n_events)).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), i64),
            "ts": pa.array(np.datetime64(EVENTS_START, "us") + offs, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    base, at = [], 0
    for n in lengths:
        base.append(" ".join(VOCAB[w] for w in words[at : at + n]))
        at += n
    texts = list(base)
    dup_of = rng.integers(0, n_docs, n_docs)
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = base[dup_of[i]] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), i64),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_vecs), i32),
        }
    )
    return t


def ensure_tables(out_dir: str, sf: float, seed: int = 42) -> str:
    """Write the tables under ``out_dir`` once; later calls reuse them.

    A ``_SUCCESS`` marker is written last, so an interrupted generation is
    redone rather than read half-written."""
    marker = os.path.join(out_dir, "_SUCCESS")
    if not os.path.exists(marker):
        os.makedirs(out_dir, exist_ok=True)
        for name, table in build_tables(sf, seed).items():
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        with open(marker, "w") as fh:
            fh.write(f"sf={sf} seed={seed}\n")
    return out_dir
