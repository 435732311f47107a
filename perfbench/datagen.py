"""Seeded generator for the star schema the graft gates and CLIs read.

Writes one parquet file per table (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) with the column
names and types of graft.core.Tables. Row counts scale with `sf` like
the TPC-H-style layout the gates were written against (sf 0.01 =
60k lineitems, 15k orders, 1.5k customers, 2k parts, 10k events).
Every value is drawn from numpy's PCG64 seeded with `seed`, so the
same (sf, seed) always gives byte-identical tables.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, lo, hi, n):
    d0 = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - d0).astype(int)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed):
    rng = np.random.Generator(np.random.PCG64(seed))
    n_c, n_s, n_p = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_o, n_l, n_e = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_u, n_d, n_v = max(15, int(15000 * sf)), max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    out = {}
    out["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32([i % 5 for i in range(25)])})
    out["customer"] = pa.table({
        "c_custkey": i64(np.arange(n_c)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
        "c_nationkey": i32(rng.integers(0, 25, n_c)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": _pick(rng, SEGMENTS, n_c)})
    out["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(n_s)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
        "s_nationkey": i32(rng.integers(0, 25, n_s)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s)})
    pk = np.arange(n_p)
    out["part"] = pa.table({
        "p_partkey": i64(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
        "p_type": _pick(rng, PTYPES, n_p),
        "p_size": i32(rng.integers(1, 51, n_p)),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": i64(np.arange(n_o)),
        "o_custkey": i64(rng.integers(0, n_c, n_o)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_o),
        "o_orderpriority": _pick(rng, PRIORITIES, n_o)})
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_o, n_l)),
        "l_partkey": i64(rng.integers(0, n_p, n_l)),
        "l_suppkey": i64(rng.integers(0, n_s, n_l)),
        "l_linenumber": i32(rng.integers(1, 8, n_l)),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_l),
        "l_linestatus": _pick(rng, ["F", "O"], n_l),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_l)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1000000
    out["events"] = pa.table({
        "event_id": i64(np.arange(n_e)),
        "ts": pa.array(t0 + np.sort(rng.integers(0, span_us, n_e)).astype("timedelta64[us]")),
        "user_id": i64(rng.integers(0, n_u, n_e)),
        "event_type": _pick(rng, EVENT_TYPES, n_e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)])})
    texts = []
    for d in range(n_d):
        if d >= 20 and rng.random() < 0.05:
            # near duplicate of an earlier document, as the dedup gates expect
            texts.append(texts[int(rng.integers(0, d))] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS),
                                                                 int(rng.integers(10, 100)))]))
    out["documents"] = pa.table({
        "doc_id": i64(np.arange(n_d)), "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_d, LANG_P),
        "source": pa.array([f"src{d % 20}" for d in range(n_d)]),
        "n_chars": i64([len(t) for t in texts])})
    v = rng.standard_normal((n_v, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": i64(np.arange(n_v)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_v))})
    return out


def write(directory, sf, seed):
    """Write every table as <directory>/<name>.parquet."""
    import os
    os.makedirs(directory, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(directory, f"{name}.parquet"))
