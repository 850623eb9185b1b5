"""Seeded input generators for the benchmark.

Every table the program's loaders check (`graft.core.Tables.contractCheck`
pins ten of them) is written as one parquet file with the column names and
physical types of the fixture contract. The same seed always yields the
same content, so two runs on one seed read identical inputs.

The shapes come from the sf0.1 fixtures, measured once by
`fixture_stats.py` into `fixture_stats.json`:

- events: a time slice of the fixture's process. The fixture spreads
  100,000 events over 30 days (0.39 per 10 s window) across 1,500 users;
  a slice of n events keeps that density by covering 30 days x n / 100,000
  with the same 1,500 users. Event types are uniform over the five kinds;
  values are exponential with the fixture's mean (49.87; its median 34.77
  and sd 49.56 match an exponential), rounded to cents.
- orders: 1.5 orders per event and one customer per ten orders, as in the
  fixture (150,000 / 15,000); every 10th order key feeds the CDC topic.
- documents: `gen_corpus` of tools/gen_scale_rehearsal.py, sampling the
  fixture's own word-count histogram and (lang, source) pairs.
"""
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "fixture_stats.json")) as _f:
    FIXTURE = json.load(_f)

EVENT_TYPES = np.array(sorted(FIXTURE["events"]["event_type_counts"]))
T0_US = 1704067200 * 1_000_000          # 2024-01-01 00:00:00 UTC
FIX_EVENTS = FIXTURE["events"]["rows"]
FIX_SPAN_US = FIXTURE["events"]["span_s"] * 1_000_000
N_USERS = FIXTURE["events"]["users"]
VALUE_MEAN = FIXTURE["events"]["value"]["mean"]
ORDERS_PER_EVENT = FIXTURE["orders"]["rows"] / FIX_EVENTS
ORDERS_PER_CUSTOMER = round(FIXTURE["orders"]["rows"] / FIXTURE["orders"]["customers"])
PRICE_LO, PRICE_HI = FIXTURE["orders"]["totalprice"]
ORDER_D0 = 9131                         # 1995-01-01 as days since epoch
ORDER_DAYS = 2404                       # through 2001-08-01


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def events_table(rng, n):
    """Event times unique at millisecond grain (the wire's `ts`), so the
    Bounce fold's per-key ordering precondition holds; 2-decimal values
    so the cents transport is exact."""
    span_ms = FIX_SPAN_US * n // FIX_EVENTS // 1000
    ms = np.unique(rng.integers(0, span_ms, int(n * 1.05) + 16))
    ms = rng.permutation(ms)[:n]
    us = ms * 1000 + rng.integers(0, 1000, n)
    value = np.round(rng.exponential(VALUE_MEAN, n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(T0_US + np.sort(us)),
        "user_id": pa.array(rng.integers(0, N_USERS, n).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def orders_tables(rng, n_orders):
    n_cust = max(150, n_orders // ORDERS_PER_CUSTOMER)
    days = rng.integers(0, ORDER_DAYS, n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(PRICE_LO, PRICE_HI, n_orders), 2)),
        "o_orderdate": _ts((ORDER_D0 + days).astype(np.int64) * 86400 * 1_000_000),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n_orders)]),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.0, 9999.0, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                rng.integers(0, 5, n_cust)]),
    })
    return orders, customer


def filler_tables(rng):
    """Small but well-typed tables the warehouse never reads."""
    n = 50
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array([f"REGION_{i}" for i in range(5)])}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(10, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(10)]),
            "s_nationkey": pa.array(rng.integers(0, 25, 10).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(0, 9999, 10), 2))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": pa.array([f"part {i}" for i in range(n)]),
            "p_brand": pa.array([f"Brand#{i % 5}" for i in range(n)]),
            "p_type": pa.array([f"TYPE {i % 7}" for i in range(n)]),
            "p_size": pa.array(rng.integers(1, 50, n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, n), 2))}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n, n).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 10, n).astype(np.int64)),
            "l_linenumber": pa.array(np.ones(n, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 50, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 90000, n), 2)),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n), 2)),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": _ts((ORDER_D0 + rng.integers(0, ORDER_DAYS, n)).astype(
                np.int64) * 86400 * 1_000_000)}),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(rng.standard_normal((n, 8)).astype(np.float32).tolist(),
                                  pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 4, n).astype(np.int32))}),
    }


def _rehearsal():
    """tools/gen_scale_rehearsal.py, the repository's Zipf corpus process."""
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
    import gen_scale_rehearsal
    return gen_scale_rehearsal


def corpus(seed, n_docs):
    """A Zipf open-vocabulary corpus from `gen_corpus`: word counts and
    (lang, source) pairs drawn from the fixture's empirical distributions,
    exact and near duplicates injected at the fixture's rates."""
    g = _rehearsal()
    docs = FIXTURE["documents"]
    lengths = [n for n, c in docs["word_count_hist"] for _ in range(c)]
    langsrc = [(l, s) for l, s, c in docs["lang_source_counts"] for _ in range(c)]
    rng = random.Random(seed)
    draw = g.zipf_sampler(rng, g.VOCAB_POOL, g.ZIPF_S)
    texts, langs, sources = g.gen_corpus(rng, n_docs, lengths, langsrc, draw)
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_tables(out_dir, seed, n_events, docs=None):
    """All ten tables into `out_dir`, with `n_events` events and the
    fixture's 1.5 orders per event; `docs` replaces the small default
    corpus. Returns the events table (the oracle side needs it)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    events = events_table(rng, n_events)
    orders, customer = orders_tables(rng, round(n_events * ORDERS_PER_EVENT))
    tables = filler_tables(rng)
    tables.update(events=events, orders=orders, customer=customer,
                  documents=docs if docs is not None else corpus(seed, 200))
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return events
