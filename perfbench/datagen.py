"""Seeded input generator for the graft benchmark.

Writes the star-schema tables graft's queries read (one parquet file per
table, the layout `graft.sources.Tables.load` expects) and the replay log of
the streaming workload. Everything is a function of (seed, scale), so the same
seed gives byte-identical inputs; the row counts depend on the scale only, so
seeds change values, not the amount of work.

The shapes follow the read-only reference tables the repository's tests use:
the same schemas, key ranges, categorical domains and value ranges.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EVENTS_T0 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def make_tables(seed, sf):
    """Returns {table name: pyarrow.Table} for scale factor `sf`."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                             rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_line) * DAY_US)})
    # events: one log over 30 days, event_id in event-time order
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EVENTS_T0 + ev_us),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:      # near duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:   # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def _embeddings(rng, n, dim=64, k=10):
    centers = rng.normal(0, 1, (k, dim))
    label = rng.integers(0, k, n)
    v = centers[label] + rng.normal(0, 0.8, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def make_stream(seed, events, batches, ooo_share, late_share, late_batches, dup_share):
    """Delivery plan of the streaming replay.

    The event log, in event-time order, is cut into `batches` micro-batches
    of equal size; every event keeps the microsecond event time the events
    table gives it. A share `ooo_share` of single events is delivered one
    batch late: out of order within its user as well as across users, and
    inside the watermark the benchmark sets (1.5 batch spans of event time).
    A share `late_share` is delivered `late_batches` batches late, behind the
    watermark; only events whose late batch is still in the log are picked,
    so every pass replays the same `batches` micro-batches. A share
    `dup_share` of events is delivered a second time, in its own batch or
    the next, as an at-least-once log redelivers; a copy is never late. Each
    batch is shuffled. Returns a table in delivery order with the batch
    number and a `late` label that only the output check reads."""
    rng = np.random.default_rng([seed, 2])
    n = events.num_rows
    home = np.arange(n) * batches // n
    late = (rng.random(n) < late_share) & (home + late_batches < batches)
    ooo = (rng.random(n) < ooo_share) & (home + 1 < batches)
    deliver = home + np.where(late, late_batches, ooo.astype(np.int64))
    dup = np.flatnonzero(rng.random(n) < dup_share)
    dup_deliver = np.minimum(home[dup] + rng.integers(0, 2, dup.size), batches - 1)
    src = np.concatenate([np.arange(n), dup])
    deliver = np.concatenate([deliver, dup_deliver])
    is_late = np.concatenate([late, np.zeros(dup.size, dtype=bool)])
    order = np.lexsort((rng.random(src.size), deliver))
    take = src[order]
    return pa.table({
        "batch": pa.array(deliver[order], pa.int32()),
        "user_id": events.column("user_id").take(take),
        "ts": events.column("ts").take(take),
        "event_type": events.column("event_type").take(take),
        "value": events.column("value").take(take),
        "late": pa.array(is_late[order])})


def generate(out_dir, seed, sf, stream_args):
    """Writes every table plus `stream.parquet` under `out_dir`; a directory
    already complete for the same arguments is reused."""
    done = os.path.join(out_dir, "_COMPLETE")
    stamp = json.dumps([seed, sf, stream_args], sort_keys=True)
    if os.path.exists(done) and open(done).read() == stamp:
        return
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(seed, sf)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    pq.write_table(make_stream(seed, tables["events"], **stream_args),
                   os.path.join(out_dir, "stream.parquet"))
    with open(done, "w") as fh:
        fh.write(stamp)
