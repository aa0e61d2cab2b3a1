"""Seeded input generators. The same seed gives byte-identical files.

Every generator draws from its own numpy PCG64 stream, so adding a
generator never shifts the inputs of another.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the token vocabulary of the program's `documents` test table
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
DIM = 64


def rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


# ---- documents ----------------------------------------------------------
def documents(seed, n, repeat_share=0.25, min_words=10, max_words=100):
    """`n` documents in stream order. With probability `repeat_share` a
    document repeats the text of a uniformly chosen earlier one (a new
    doc_id, the same bytes); the rest are fresh word sequences."""
    r = rng(seed, 1)
    vocab = np.array(VOCAB)
    texts = []
    repeats = 0
    for i in range(n):
        if i > 0 and r.random() < repeat_share:
            texts.append(texts[int(r.integers(0, i))])
            repeats += 1
        else:
            k = int(r.integers(min_words, max_words + 1))
            texts.append(" ".join(vocab[r.integers(0, len(vocab), k)]))
    return texts, repeats


def write_doc_pool(path, texts):
    """One document per line, `doc_id<TAB>text`; doc_id is the line index."""
    with open(path, "w") as f:
        for i, t in enumerate(texts):
            f.write(f"{i}\t{t}\n")


# ---- dedup archive corpus ------------------------------------------------
def archive_corpus(seed, out_dir, n_files, n_copies, stream_bytes):
    """A RefCorpus-shaped folder: one seeded text stream of about
    `stream_bytes` bytes, written `n_copies` times into each of
    `n_files` files. Copy 0 of every file carries a unique tag at each
    64 KiB block start, so each file adds a few unique chunks and the
    rest are duplicates of the shared stream."""
    texts, _ = documents(seed, max(1, stream_bytes // 300), repeat_share=0.0)
    stream = ("\n".join(texts) + "\n").encode()
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f in range(n_files):
        p = os.path.join(out_dir, f"file{f:03d}.bin")
        with open(p, "wb") as out:
            for c in range(n_copies):
                if c == 0:
                    copy = bytearray(stream)
                    for o in range(0, len(copy), 65536):
                        tag = f"<f{f}r0o{o}>".encode()[:len(copy) - o]
                        copy[o:o + len(tag)] = tag
                    out.write(copy)
                else:
                    out.write(stream)
        paths.append(p)
    return paths, len(stream) * n_copies * n_files


# ---- vectors -------------------------------------------------------------
def unit_vectors(r, n, dim=DIM):
    """Isotropic unit vectors, float32: the geometry of the program's
    `embeddings` table (10 labels whose centroids are near-orthogonal
    noise), which is what keeps LSH bucket occupancy at about
    n / 2^bits per bucket."""
    v = r.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def ferret_inputs(seed, out_dir, n_corpus):
    """embeddings.parquet (vec_id, embedding, label) and the query pool:
    every corpus vector once, in a seeded order, as query_ids.i64 and
    queries.f32 (raw little-endian rows of DIM float32). The search
    looks a query's sketch up by its id, so queries are corpus members,
    as in the program's ferret_pipeline."""
    r = rng(seed, 2)
    corpus = unit_vectors(r, n_corpus)
    labels = r.integers(0, 10, n_corpus).astype(np.int32)
    order = r.permutation(n_corpus).astype(np.int64)
    os.makedirs(out_dir, exist_ok=True)
    emb = pa.array(list(corpus), type=pa.list_(pa.float32()))
    pq.write_table(pa.table({"vec_id": pa.array(np.arange(n_corpus, dtype=np.int64)),
                             "embedding": emb, "label": pa.array(labels)}),
                   os.path.join(out_dir, "embeddings.parquet"))
    order.astype("<i8").tofile(os.path.join(out_dir, "query_ids.i64"))
    corpus[order].astype("<f4").tofile(os.path.join(out_dir, "queries.f32"))
    return corpus, order


def bucket_occupancy(vectors, tables=4, bits=8, seed=7):
    """Mean number of corpus vectors sharing a vector's bucket under
    random-hyperplane LSH with `tables` x `bits` planes."""
    r = np.random.Generator(np.random.PCG64(seed))
    occ = []
    for _ in range(tables):
        planes = r.standard_normal((vectors.shape[1], bits))
        b = ((vectors @ planes) > 0).astype(np.int64) @ (1 << np.arange(bits))
        counts = np.bincount(b, minlength=1 << bits)
        occ.append(counts[b].mean())
    return float(np.mean(occ))


def brute_force_topk(corpus, query_ids, k=10):
    """Exact cosine top-k corpus rows for each query (a corpus row),
    best first, the query itself excluded."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    sims = cn[query_ids] @ cn.T
    sims[np.arange(len(query_ids)), query_ids] = -np.inf
    top = np.argpartition(-sims, k, axis=1)[:, :k]
    order = np.argsort(-np.take_along_axis(sims, top, axis=1), axis=1, kind="stable")
    return np.take_along_axis(top, order, axis=1)


# ---- star-schema tables --------------------------------------------------
NATIONS = 25
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86400 * 1_000_000


def _days(r, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(r.integers(lo, hi + 1, n) * DAY_US, type=pa.timestamp("us"))


def _money(r, n, lo, hi):
    return np.round(r.uniform(lo, hi, n), 2)


def tables(seed, out_dir, sf=0.1):
    """The tables the relational keys read, with the program's test-table
    schema and value domains; row counts scale with `sf` (sf 0.1:
    150k orders, ~600k lineitems, 15k customers, 100k events).
    Returns {table: rows}."""
    r = rng(seed, 3)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_supp, n_part, n_ev = int(10_000 * sf), int(200_000 * sf), int(1_000_000 * sf)
    n_users = max(1, n_ev // 66)
    os.makedirs(out_dir, exist_ok=True)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(np.arange(NATIONS, dtype=np.int32)),
                            "n_name": [f"NATION_{i}" for i in range(NATIONS)],
                            "n_regionkey": pa.array(np.arange(NATIONS, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, NATIONS, n_cust).astype(np.int32)),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, NATIONS, n_supp).astype(np.int32)),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
    # 1..7 lines per order, numbered 1..k: (l_orderkey, l_linenumber) is unique
    lines = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_li = len(okey)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(r.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _days(r, n_li, "1995-01-02", "2001-11-04")})
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + r.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": _money(r, n_ev, 0.0, 560.0),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_ev)]})
    for name, tbl in t.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {k: v.num_rows for k, v in t.items()}


def digest_files(paths):
    """sha256 over the (name, bytes) of every file, in sorted name order."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def files_under(d):
    return [os.path.join(dp, f) for dp, _, fs in os.walk(d) for f in fs]
