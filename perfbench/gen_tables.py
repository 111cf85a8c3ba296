"""Seeded star-schema generator for the suite workloads.

Writes the ten tables the catalog queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names, physical types, value domains and
row counts per scale factor of the fixed testdata the catalog was developed
against. The same (seed, sf) always yields byte-identical values.

    python3 perfbench/gen_tables.py <out_dir> <seed> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
VOCAB = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part a "
         "merge window order column join vector").split()
NEAR_DUP_SHARE = 0.05


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), min(2000, int(50_000 * sf)), int(15_000 * sf)

    yield "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    yield "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    yield "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}
    yield "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())
    pk = np.arange(n_part, dtype=np.int64)
    yield "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)}
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    yield "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}
    yield "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2499, n_li)) * DAY_US)}
    ev_types = np.array("click error purchase signup view".split())
    yield "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 100, n_doc)]
    # About one document in twenty is a near-copy of an earlier one (last
    # word dropped or one word replaced), as in the fixed testdata: the
    # near-duplicate clusters of q52/q65 are made of these.
    for i in np.flatnonzero(rng.random(n_doc - 1) < NEAR_DUP_SHARE) + 1:
        words = texts[rng.integers(0, i)].split()
        if rng.random() < 0.5:
            words = words[:-1]
        else:
            words[rng.integers(0, len(words))] = vocab[rng.integers(0, len(vocab))]
        texts[i] = " ".join(words)
    yield "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array("de en es fr zh".split())[rng.integers(0, 5, n_doc)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    yield "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}


def main(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables(seed, sf):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
