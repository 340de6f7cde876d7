"""Seeded input generation for the benchmark.

Everything the program under test reads is made here from the run's
seed, into the run's own directory:

* `tables(dir, seed, sf)` writes the ten TPC-H-like tables the query
  keys read (`<table>.parquet`, the layout `graft.Tables` loads), with
  the schemas, value domains and row counts of the repository's test
  data at the same scale factor (FIXTURES.md lists the schemas).
* `batches(dir, seed, n, ...)` writes the landing batches the dbt and
  Thrift workloads ingest, one file per table per cycle.

The same seed gives byte-identical inputs; different seeds give inputs
of the same size and shape, so run cost does not depend on the seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part a "
         "merge window order column join vector").split()
COLORS = ["blue", "hot", "small", "old", "red", "new", "cold"]
NOUNS = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _write(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _ts(arr):
    return pa.array(arr.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n):
    lens = rng.integers(10, 100, n)
    out = [" ".join(rng.choice(WORDS, k)) for k in lens]
    # a few exact and near duplicates, as web corpora have
    for i in range(0, n, 20):
        j = int(rng.integers(0, n))
        out[j] = out[i]
        k = int(rng.integers(0, n))
        out[k] = out[i] + " " + str(rng.choice(WORDS))
    return out


def tables(out_dir, seed, sf):
    # Row counts as in the test data at sf 0.001, 0.01 and 0.1. The
    # text and vector tables grow slower than the rest: 500 rows each
    # up to sf 0.01, then 50,000·sf documents and 20,000·sf embeddings.
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(15, n_cust // 10)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")

    _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(p("customer"), {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(p("supplier"), {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(p("part"), {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{c} {w}" for c, w in zip(rng.choice(COLORS, n_part),
                                              rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY
    _write(p("orders"), {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 900, 500_000, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lines = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(lok)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(p("lineitem"), {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(np.repeat(odate, lines)
                          + rng.integers(1, 122, n_li) * US_PER_DAY)})
    ev_ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    _write(p("events"), {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + ev_ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = _texts(rng, n_doc)
    _write(p("documents"), {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def batches(out_dir, seed, cycles, customers0, orders_per, events_per):
    """Landing batches: `<out_dir>/<table>/batch_<k>.parquet` for k in
    0..cycles-1. Batch 0 seeds every customer; later batches update
    a fifth of the known customers, add new ones and tombstone a few.
    Orders and events of batch k fall on day k of 2024 only, so
    batches never share a date partition or an event-time window.
    """
    rng = np.random.default_rng([seed, 2])
    n_known = 0
    for k in range(cycles):
        day0 = EPOCH_2024 + k * US_PER_DAY
        if k == 0:
            keys = np.arange(customers0, dtype=np.int64)
            deleted = np.zeros(customers0, dtype=bool)
        else:
            upd = rng.choice(n_known, n_known // 5, replace=False)
            new = np.arange(n_known, n_known + customers0 // 10)
            keys = np.sort(np.concatenate([upd, new])).astype(np.int64)
            deleted = np.isin(keys, upd) & (rng.random(len(keys)) < 0.05)
        n_known = max(n_known, int(keys.max()) + 1)
        n = len(keys)
        _write(os.path.join(out_dir, "customers", f"batch_{k}.parquet"), {
            "c_custkey": keys,
            "c_name": [f"Customer#{i:09d}" for i in keys],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n),
            "is_deleted": deleted,
            "batch_id": np.full(n, k, dtype=np.int64),
            "updated_at": _ts(np.full(n, day0))})
        okeys = np.arange(k * orders_per, (k + 1) * orders_per, dtype=np.int64)
        _write(os.path.join(out_dir, "orders", f"batch_{k}.parquet"), {
            "o_orderkey": okeys,
            "o_custkey": rng.integers(0, n_known, orders_per),
            "o_orderstatus": rng.choice(["F", "O", "P"], orders_per),
            "o_totalprice": _money(rng, 900, 500_000, orders_per),
            "o_orderdate": _ts(np.full(orders_per, day0)),
            "o_orderpriority": rng.choice(PRIORITIES, orders_per),
            "loaded_at": _ts(np.full(orders_per, day0 + US_PER_DAY // 2))})
        _write(os.path.join(out_dir, "events", f"batch_{k}.parquet"), {
            "event_id": np.arange(k * events_per, (k + 1) * events_per,
                                  dtype=np.int64),
            "ts": _ts(day0 + np.sort(rng.integers(0, US_PER_DAY, events_per))),
            "user_id": rng.integers(0, n_known, events_per),
            "event_type": rng.choice(EVENT_TYPES, events_per),
            "value": _money(rng, 0.01, 490.0, events_per)})
