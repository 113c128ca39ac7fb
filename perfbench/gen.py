#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

    python3 perfbench/gen.py --workload analytics --seed 7 --out DIR

writes the workload's inputs as single-file parquet tables under DIR plus
`meta.json` (sizes and the planted structure the output checks rely on).
The same seed gives byte-identical files; the shape of every workload
(row counts, vocabularies, shares) is fixed here and only the random
draws depend on the seed.
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- workload shapes (stated in BENCHMARK.json's workload lines) ---------

# analytics: the TESTDATA.md star schema; its sf0.1 row counts scaled by
# STAR_SCALE (dimension tables keep a floor so every join has partners).
SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}
STAR_SCALE = 0.1
STAR_ROWS = {k: max(int(v * STAR_SCALE), 1000) for k, v in SF01_ROWS.items()}

# curate: corpus with a stated near-dup share and one hot cluster.
CURATE_DOCS = 800
CURATE_NEAR_DUP_SHARE = 0.2     # share of docs that are edited copies
CURATE_HOT_CLUSTER = 80         # members of the one planted hot cluster
CURATE_EVAL_DOCS = 120
CURATE_EVAL_CONTAMINATED = 12   # eval docs that quote a corpus passage

# serve: distinct docs (no near-dup clusters, so no hot band keys).
SERVE_DOCS = 1000
SERVE_VECTORS = 800
SERVE_DIM = 64            # the IVF-PQ geometry is 8 subspaces x 8 dims
SERVE_LISTS = 8
SERVE_EVAL_DOCS = 200
SERVE_GENERATIONS = 1           # refresh generations per pass
SERVE_DELTA_DOCS = 200          # added docs per generation (BM25)
SERVE_DELTA_BAND = 200          # band change-feed rows per generation
SERVE_DELTA_VECTORS = 100       # vector change-feed rows per generation
SERVE_DELTA_EVAL = 20           # added eval docs per generation
SERVE_BM25_QUERIES = 16         # queries per BM25 search batch
SERVE_ANN_QUERIES = 16          # probe vectors per ANN search batch
SERVE_INCOMING = 100            # docs per near-dup serve batch
SERVE_SCREEN = 500             # docs per decontamination screen batch

STAR_WORDS = ("spark window merge table column vector stream value data "
              "small fast row the agg key query a scan batch slow filter "
              "hash join part line customer order sort big sql").split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]

EPOCH_DAY_US = 86_400_000_000
DAY_1995 = 9131    # 1995-01-01 in days since 1970-01-01
DAY_2024 = 19723   # 2024-01-01


def _vocab(n):
    """Fixed (seed-independent) pseudo-word vocabulary of n distinct words."""
    r = np.random.Generator(np.random.PCG64(20240101))
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    out, seen = [], set()
    while len(out) < n:
        k = int(r.integers(2, 5))
        w = "".join(cons[int(r.integers(len(cons)))] + vows[int(r.integers(len(vows)))]
                    for _ in range(k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def _zipf_words(r, vocab, n_words):
    """Word indices with a Zipf-like head (real text's shape)."""
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / ranks
    p /= p.sum()
    return r.choice(len(vocab), size=n_words, p=p)


def _texts(r, vocab, n, lo, hi, zipf=True):
    lens = r.integers(lo, hi + 1, n)
    idx = (_zipf_words(r, vocab, int(lens.sum())) if zipf
           else r.integers(0, len(vocab), int(lens.sum())))
    words = np.asarray(vocab, dtype=object)[idx]
    out, at = [], 0
    for k in lens:
        out.append(" ".join(words[at:at + k]))
        at += k
    return out


def _edit(r, text, vocab, n_edits):
    """Replace n_edits random words of text with random vocabulary words."""
    w = text.split(" ")
    for pos in r.integers(0, len(w), n_edits):
        w[int(pos)] = vocab[int(r.integers(len(vocab)))]
    return " ".join(w)


def analytics(seed, out):
    r = np.random.Generator(np.random.PCG64([seed, 1]))
    n = STAR_ROWS
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(r.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, c),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[r.integers(0, 5, c)]})
    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(r.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, s)})
    p = n["part"]
    adj = np.array(["small", "large", "red", "blue", "hot", "cold", "old", "new"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"])
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj[r.integers(0, 8, p)],
                                             noun[r.integers(0, 8, p)])],
        "p_brand": [f"Brand#{k}" for k in r.integers(1, 26, p)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[r.integers(0, 6, p)],
        "p_size": pa.array(r.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, c, o), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, o)],
        "o_totalprice": _money(r, 1000.0, 500000.0, o),
        "o_orderdate": pa.array((DAY_1995 + r.integers(0, 2404, o)) * EPOCH_DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[r.integers(0, 5, o)]})
    li = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, li), pa.int32()),
        "l_quantity": r.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, li),
        "l_discount": r.integers(0, 11, li) / 100.0,
        "l_tax": r.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, li)],
        "l_shipdate": pa.array((DAY_1995 + 1 + r.integers(0, 2498, li)) * EPOCH_DAY_US,
                               pa.timestamp("us"))})
    e = n["events"]
    _write(out, "events", {
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(np.sort(DAY_2024 * EPOCH_DAY_US +
                               r.integers(0, 30 * EPOCH_DAY_US, e)), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 1500, e), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[r.integers(0, 5, e)],
        "value": np.round(r.exponential(20.0, e) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, e)]})
    d = n["documents"]
    texts = _texts(r, STAR_WORDS, d, 10, 100, zipf=False)
    for i in r.choice(d, 250, replace=False):   # planted "dup" token
        texts[i] = texts[i] + " dup"
    for i in range(0, 40, 5):                   # a few exact duplicates
        texts[i + 1] = texts[i]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), d)],
        "source": [f"src{k}" for k in r.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    m = n["embeddings"]
    emb = (r.standard_normal((m, 64)) * 0.1).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, m), pa.int32())})
    return {"rows": {**STAR_ROWS, "region": 5, "nation": 25}}


def curate(seed, out):
    r = np.random.Generator(np.random.PCG64([seed, 2]))
    vocab = _vocab(3000)
    n = CURATE_DOCS
    n_hot = CURATE_HOT_CLUSTER
    n_near = int(n * CURATE_NEAR_DUP_SHARE)
    n_base = n - n_near
    texts = _texts(r, vocab, n_base, 50, 80)
    # The hot cluster: doc 0 is long and n_hot - 1 one-word edits of it
    # follow, so every member pair stays above the 0.8 Jaccard threshold.
    texts[0] = " ".join(_texts(r, vocab, 1, 120, 120))
    hot = [_edit(r, texts[0], vocab, 1) for _ in range(n_hot - 1)]
    rest = n_near - (n_hot - 1)
    srcs = r.integers(1, n_base, rest)
    near = [_edit(r, texts[int(i)], vocab, 1) for i in srcs]
    all_texts = texts + hot + near
    order = r.permutation(n)      # hot cluster members spread over the id space
    ids = np.empty(n, np.int64)
    ids[order] = np.arange(n)
    hot_ids = sorted(int(ids[i]) for i in [0] + list(range(n_base, n_base + n_hot - 1)))
    texts_by_id = [None] * n
    for i, t in enumerate(all_texts):
        texts_by_id[int(ids[i])] = t
    _write(out, "corpus", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts_by_id,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), n)],
        "source": [f"src{k}" for k in r.integers(0, 16, n)]})
    ev = _texts(r, vocab, CURATE_EVAL_DOCS, 30, 80)
    for j, i in enumerate(r.choice(n, CURATE_EVAL_CONTAMINATED, replace=False)):
        w = texts_by_id[int(i)].split(" ")
        ev[j] = " ".join(w[:40])     # quotes the corpus doc's opening
    _write(out, "eval", {
        "doc_id": pa.array(np.arange(len(ev)), pa.int64()),
        "text": ev})
    return {"docs": n, "near_dup_share": CURATE_NEAR_DUP_SHARE,
            "hot_cluster_ids": hot_ids, "eval_docs": CURATE_EVAL_DOCS,
            "eval_contaminated": CURATE_EVAL_CONTAMINATED}


def serve(seed, out):
    r = np.random.Generator(np.random.PCG64([seed, 3]))
    vocab = _vocab(3000)
    n = SERVE_DOCS
    g = SERVE_GENERATIONS
    _write(out, "corpus", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": _texts(r, vocab, n, 40, 120, zipf=False)})
    cents = r.standard_normal((SERVE_LISTS, SERVE_DIM))

    def vectors(k):
        lab = r.integers(0, SERVE_LISTS, k)
        v = np.round(cents[lab] + 0.3 * r.standard_normal((k, SERVE_DIM)), 6)
        return lab, v

    lab, v = vectors(SERVE_VECTORS)
    _write(out, "vectors", {
        "vec_id": pa.array(np.arange(SERVE_VECTORS), pa.int64()),
        "v": pa.array(list(v), pa.list_(pa.float64())),
        "label": pa.array(lab, pa.int32())})
    ev_n = SERVE_EVAL_DOCS
    _write(out, "eval", {
        "doc_id": pa.array(np.arange(ev_n), pa.int64()),
        "text": _texts(r, vocab, ev_n, 30, 80, zipf=False)})
    # Query batches: BM25 term lists, ANN probes, near-dup incoming docs
    # (a tenth are edited corpus copies) and decontamination screens.
    corpus = pq.read_table(os.path.join(out, "corpus.parquet")).column("text").to_pylist()
    nq = SERVE_BM25_QUERIES
    _write(out, "bm25_queries", {
        "query_id": pa.array(np.arange(nq), pa.int64()),
        "terms": pa.array([list(np.asarray(vocab)[r.integers(0, len(vocab), int(k))])
                           for k in r.integers(1, 4, nq)], pa.list_(pa.string()))})
    _, qv = vectors(SERVE_ANN_QUERIES)
    _write(out, "ann_queries", {
        "query_id": pa.array(np.arange(SERVE_ANN_QUERIES), pa.int64()),
        "qv": pa.array(list(qv), pa.list_(pa.float64()))})
    inc = _texts(r, vocab, SERVE_INCOMING, 40, 120, zipf=False)
    for j, i in enumerate(r.choice(n, SERVE_INCOMING // 10, replace=False)):
        inc[j] = _edit(r, corpus[int(i)], vocab, 1)
    _write(out, "incoming", {
        "doc_id": pa.array(10_000_000 + np.arange(SERVE_INCOMING), pa.int64()),
        "text": inc})
    scr = _texts(r, vocab, SERVE_SCREEN, 40, 120, zipf=False)
    _write(out, "screen", {
        "doc_id": pa.array(20_000_000 + np.arange(SERVE_SCREEN), pa.int64()),
        "text": scr})
    # Per-generation deltas. Doc and vector ids of generation k are
    # disjoint from the base and from every other generation.
    for k in range(1, g + 1):
        base = 1_000_000 * k
        _write(out, f"delta{k}_docs", {
            "doc_id": pa.array(base + np.arange(SERVE_DELTA_DOCS), pa.int64()),
            "text": _texts(r, vocab, SERVE_DELTA_DOCS, 40, 120, zipf=False)})
        # band change feed: half added, a quarter changed, a quarter removed
        nb = SERVE_DELTA_BAND
        na, nc = nb // 2, nb // 4
        touched = r.choice(n, nb - na, replace=False)
        _write(out, f"delta{k}_band", {
            "doc_id": pa.array(np.concatenate([base + np.arange(na), touched]), pa.int64()),
            "status": ["added"] * na + ["changed"] * nc + ["removed"] * (nb - na - nc),
            "text": (_texts(r, vocab, na, 40, 120, zipf=False) +
                     [_edit(r, corpus[int(i)], vocab, 5) for i in touched[:nc]] +
                     [None] * (nb - na - nc))})
        nv = SERVE_DELTA_VECTORS
        va, vc = nv // 2, nv // 4
        vt = r.choice(SERVE_VECTORS, nv - va, replace=False)
        _, dv = vectors(nv)
        _write(out, f"delta{k}_vectors", {
            "vec_id": pa.array(np.concatenate([base + np.arange(va), vt]), pa.int64()),
            "status": ["added"] * va + ["changed"] * vc + ["removed"] * (nv - va - vc),
            "v": pa.array([list(x) for x in dv[:va + vc]] + [None] * (nv - va - vc),
                          pa.list_(pa.float64()))})
        _write(out, f"delta{k}_eval", {
            "doc_id": pa.array(base + np.arange(SERVE_DELTA_EVAL), pa.int64()),
            "text": _texts(r, vocab, SERVE_DELTA_EVAL, 30, 80, zipf=False)})
    return {"docs": n, "vectors": SERVE_VECTORS, "generations": g,
            "bm25_queries": nq, "ann_queries": SERVE_ANN_QUERIES,
            "incoming": SERVE_INCOMING, "screen": SERVE_SCREEN}


WORKLOADS = {"analytics": analytics, "curate": curate, "serve": serve}


def calibration_lineitem(seed, out):
    """A lineitem table at sf0.1 rows for the scan+agg calibration anchor
    of traced runs (the driver bench's shape, at its row count)."""
    r = np.random.Generator(np.random.PCG64([seed, 4]))
    n = SF01_ROWS["lineitem"]
    _write(out, "cal_lineitem", {
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n)})


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    meta = {"workload": workload, "seed": seed, **WORKLOADS[workload](seed, out)}
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
