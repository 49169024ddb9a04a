"""Seeded input generation for the benchmark workloads.

Every table is a pure function of (seed, size): the same seed writes the same
rows. The shapes follow the engine's reference fixtures (FIXTURES.md): a
reduced TPC-H star schema with the value domains the TPC-H texts in
`queries/Tpch.scala` are tuned to, a text corpus over a 30-word vocabulary
with about 5% near-duplicate documents, and 64-dimensional float embeddings
in ten labelled clusters.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DIM = 64


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def documents(rng, n, first_id=0, marker=None):
    """n documents of 10-100 words; about 5% are near-duplicates of another
    document of the batch (its text plus ' dup', sometimes with one word
    replaced), so Jaccard similarities straddle the 0.9 dedup threshold.
    `marker` appends one extra token to every text, so that a read can
    find exactly the documents written by one ingest batch."""
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n):
        texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 101))]))
    n_dup = n // 20
    for i in rng.choice(np.arange(1, n), size=min(n_dup, n - 1), replace=False):
        words = texts[int(rng.integers(0, i))].split(" ")
        if rng.random() < 0.5:
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(words + ["dup"])
    if marker:
        texts = [t + " " + marker for t in texts]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embedding_values(rng, n):
    """(labels, float32 vectors): ten fixed cluster centres plus noise."""
    centers = np.random.default_rng(7).normal(0, 0.12, (10, DIM))
    labels = rng.integers(0, 10, n)
    vecs = (centers[labels] + rng.normal(0, 0.08, (n, DIM))).astype(np.float32)
    return labels.astype(np.int32), vecs


def embeddings(rng, n, first_id=0):
    labels, vecs = embedding_values(rng, n)
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _dates(rng, n, lo, hi):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return pa.array((lo + days).astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(rng, sf):
    """The reduced TPC-H tables of the engine's fixtures, at scale factor sf."""
    n_li, n_ord, n_cust = int(6_000_000 * sf), int(1_500_000 * sf), int(150_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(int(10_000 * sf), 10)
    adj = "red new hot small cold large old blue".split()
    noun = "bolt anvil ring rod plate gear widget gizmo".split()
    pick = lambda xs, n: np.array(xs)[rng.integers(0, len(xs), n)]
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pick(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(pick(adj, n_part), " "), pick(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": pick(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["O", "P", "F"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04")})
    n_ev = 1000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _dates(rng, n_ev, "2024-01-01", "2024-12-31"),
        "user_id": pa.array(rng.integers(0, 100, n_ev), pa.int64()),
        "event_type": pick(["click", "view", "buy"], n_ev),
        "value": rng.uniform(0, 100, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 50, n_ev)]})
    return t
