"""Synthetic input tables for the benchmark, generated from a seed.

The tables have the names, column types and value domains of the harness
fixture the declared queries are written against (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings; one parquet file each). Row counts scale with `sf`; at
sf=0.001 they match the smallest harness fixture.

    python3 perfbench/fixture.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
US_PER_DAY = 86_400_000_000


def _ts(base, offsets_us):
    epoch = np.datetime64(base, "us").astype(np.int64)
    return pa.array(epoch + offsets_us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(n_docs, rng):
    """Random vocabulary text; ~5% of documents are an earlier document's
    text plus a "dup" suffix, the near-duplicate structure the dedup and
    corpus operators look for."""
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, n_cust // 10)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in
                   zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts("1995-01-01",
                           rng.integers(0, 2404, n_ord) * US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-02",
                          rng.integers(0, 2498, n_li) * US_PER_DAY)})
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01",
                  np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    out["documents"] = documents(n_docs, rng)
    # embeddings: 10 labelled clusters of unit vectors in 64 dimensions
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(out_dir, sf, seed, layout_seed=None):
    """The tables at `sf` from `seed`; `layout_seed` rotates each table's
    rows by a seeded offset (same rows, different physical layout). A full
    permutation would also change how sorted each column is, which moved
    the catalog's timings by up to ~10% between seeds."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(sf, seed).items():
        if layout_seed is not None and tbl.num_rows > 1:
            k = int(np.random.default_rng(layout_seed).integers(1, tbl.num_rows))
            tbl = pa.concat_tables([tbl.slice(k), tbl.slice(0, k)])
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def write_corpus(out_dir, base_sf, amp, seed):
    """A multi-file, multi-row-group documents table: `amp` copies of the
    generated documents, each token of copy i prefixed with "c<i>" so
    copies share no token, shingle or k-gram. Each copy is cut into four
    chunks; the seed shuffles the chunks across 2*amp files of two row
    groups per chunk. The rows do not depend on the seed."""
    base = documents(max(500, int(50_000 * base_sf)), np.random.default_rng(42))
    copies = []
    for i in range(amp):
        texts = [" ".join(f"c{i}{t}" for t in s.split(" "))
                 for s in base.column("text").to_pylist()]
        copies.append(base.set_column(1, "text", pa.array(texts))
                      .set_column(0, "doc_id", pa.array(
                          np.asarray(base.column("doc_id")) + i * 10_000_000)))
    n = base.num_rows
    cuts = [0, n // 4, n // 2, 3 * n // 4, n]
    chunks = [c.slice(cuts[j], cuts[j + 1] - cuts[j]) for c in copies for j in range(4)]
    order = np.random.default_rng(seed).permutation(len(chunks))
    dest = os.path.join(out_dir, "documents.parquet")
    os.makedirs(dest, exist_ok=True)
    for f, pair in enumerate(order.reshape(-1, 2)):
        tbl = pa.concat_tables([chunks[k] for k in pair])
        pq.write_table(tbl, os.path.join(dest, f"part-{f:05d}.parquet"),
                       row_group_size=max(1, chunks[pair[0]].num_rows // 2))
    with open(os.path.join(out_dir, "AMP"), "w") as fh:
        fh.write(f"{n}x{amp}\n")


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
