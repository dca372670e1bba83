"""Fixed table set for the catalogue workload.

Ten parquet tables in the layout the engine's loaders read
(graft.core.Tables): the TPC-H-like star schema plus `events`,
`documents` and `embeddings`. The content is a pure function of this file
(fixed generator seed), so the stored per-query expectations in
expected_catalogue.json stay valid; the benchmark's --seed only permutes
the query order. Near-duplicate documents and vectors are planted so the
similarity, dedup and search queries return non-trivial results.

`ensure(build_dir)` generates the set once into build_dir and returns its
path; `python3 perfbench/gen_tables.py OUT` writes it to OUT.
"""
import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.01          # ~ TPC-H sf0.01: 60k lineitem rows
DATA_SEED = 20241002
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "line window spark order data column join small big customer query "
         "group filter sort stream vector").split()
COLORS = "red blue green small large steel brass copper".split()
NOUNS = "ring widget bolt gear valve spring plate panel".split()


def _ts(days_or_us, unit):
    return pa.array(np.asarray(days_or_us, dtype="int64"), pa.int64()).cast(pa.timestamp(unit))


def build(out):
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150000 * SCALE), int(10000 * SCALE), int(200000 * SCALE)
    n_ord, n_line = int(1500000 * SCALE), int(6000000 * SCALE)
    n_events, n_docs, n_emb = int(1000000 * SCALE), int(50000 * SCALE), int(50000 * SCALE)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, len(COLORS), n_part), rng.integers(0, len(NOUNS), n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price})
    day0 = 9131  # 1995-01-01 in days since the epoch
    odate = rng.integers(day0, day0 + 2404, n_ord)
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(odate * 86400 * 1000000, "us"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    lok = rng.integers(0, n_ord, n_line)
    lpk = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    write("lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(lpk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpk], 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts((odate[lok] + rng.integers(1, 122, n_line)) * 86400 * 1000000, "us")})
    t_us = 1704067200 * 1000000 + np.sort(rng.integers(0, 30 * 86400 * 1000000, n_events))
    write("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(t_us, "us"),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 500.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    # documents: random word strings, with planted near-duplicates (a few
    # words swapped) and exact duplicates (same text, other case)
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.12:
            src = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(1, 4)):
                src[rng.integers(0, len(src))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(src))
        elif i > 10 and r < 0.15:
            texts.append(texts[rng.integers(0, i)].upper())
        else:
            texts.append(" ".join(WORDS[k] for k in rng.integers(0, len(WORDS),
                                                                 rng.integers(20, 80))))
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "fr", "es", "zh"])[rng.integers(0, 7, n_docs)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    # embeddings: 10 label clusters of unit vectors, 5% near-copies
    cent = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vecs = cent[label] * 0.6 + rng.normal(0.0, 1.0, (n_emb, 64)) * 0.4
    for i in range(1, n_emb):
        if rng.random() < 0.05:
            j = rng.integers(0, i)
            vecs[i] = vecs[j] + rng.normal(0.0, 0.01, 64)
            label[i] = label[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def ensure(build_dir):
    with open(os.path.abspath(__file__), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:16]
    out = os.path.join(build_dir, f"tables-{tag}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.rename(tmp, out)
    return out


if __name__ == "__main__":
    os.makedirs(sys.argv[1], exist_ok=True)
    build(sys.argv[1])
