"""Seeded input generator for the benchmark.

Writes the ten tables the library reads (`<dir>/<table>.parquet`) with the
schemas of the project's test data: a TPC-H-like star schema plus
`events`, `documents` and `embeddings`, at TPC-H scale factor 0.01 (15,000
orders). The same seed always gives byte-identical rows; a different seed
gives other rows with the same distributions, written in another row
order. Order keys are checked for uniqueness and every order's customer
for existence.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.44, 0.13, 0.14, 0.15, 0.14]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_ADJ = "small red blue hot cold old new big".split()
PART_NOUN = "ring widget bolt gear rod plate anvil nut".split()
PART_TYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000


def _days_us(start, days):
    """Microseconds since the epoch of `start` plus whole `days`."""
    base = np.datetime64(start, "us").astype(np.int64)
    return base + days.astype(np.int64) * DAY_US


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(out_dir, name, cols, rng=None):
    """Write one table; fact tables get a seeded row order."""
    t = pa.table(cols)
    if rng is not None:
        t = t.take(pa.array(rng.permutation(t.num_rows)))
    pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near duplicate: an earlier document with a marker word appended
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_li, n_ev, n_doc = 15000, 60000, 10000, 500
    n_users = 150

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    cust = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": cust,
        "c_name": [f"Customer#{k:09d}" for k in cust],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]}, rng)

    supp = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": supp,
        "s_name": [f"Supplier#{k:09d}" for k in supp],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}, rng)

    part = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": part,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (part % 1000) * 0.1, 2)}, rng)

    okey = np.arange(n_ord, dtype=np.int64)
    o_cust = rng.integers(0, n_cust, n_ord).astype(np.int64)
    o_status = np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]
    o_price = np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)
    o_date = _days_us("1995-01-01", rng.integers(0, 2404, n_ord))
    o_prio = PRIORITIES[rng.integers(0, 5, n_ord)]
    assert len(np.unique(okey)) == len(okey), "order keys collide"
    assert np.isin(o_cust, cust).all(), "orders reference missing customers"
    _write(out_dir, "orders", {
        "o_orderkey": okey, "o_custkey": o_cust, "o_orderstatus": o_status,
        "o_totalprice": o_price, "o_orderdate": _ts(o_date),
        "o_orderpriority": o_prio}, rng)

    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days_us("1995-01-02", rng.integers(0, 2498, n_li)))},
        rng)

    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_us),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}, rng)

    texts = _documents(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}, rng)

    labels = rng.integers(0, 10, n_doc)
    centroids = rng.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = 0.15 * centroids[labels] + rng.normal(size=(n_doc, 64)) / 8.0
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}, rng)


if __name__ == "__main__":
    import argparse
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("out_dir")
    p.add_argument("--seed", type=int, default=1)
    a = p.parse_args()
    generate(a.out_dir, a.seed)
