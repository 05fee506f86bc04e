"""Seeded input generator for the graft benchmark.

Every input is a pure function of its seed (numpy PCG64), written as
parquet next to a `props.json` that records the input properties the
run used. Two inputs:

- registry tables: the TPC-H-shaped star schema plus `events`,
  `documents` and `embeddings`, in the layout `graft.Tables` reads. The
  registry workload always uses table seed 42, so the per-key digests in
  `registry_keys.json` stay valid; its run seed only orders the keys.
- stream plan: the electrons the generator thread offers (Zipf key,
  topic, payload of 3-11 words from a Zipf vocabulary).
"""

import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_WORDS = ("spark window merge table column vector stream value data small "
              "join filter big group hash customer sort order slow line part "
              "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

# Input sizes, fixed here so every run of one workload sees the same.
REGISTRY_TABLE_SEED = 42
STREAM_TOPICS = ["orders", "clicks", "audit", "fanout"]
STREAM_TOPIC_P = [0.4, 0.3, 0.1, 0.2]
STREAM_KEYS = 1000
STREAM_ZIPF = 1.2
STREAM_EVENTS = 40000


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _ts(start, offsets_s):
    base = np.datetime64(start, "us")
    return (base + (np.asarray(offsets_s) * 1e6).astype("int64").astype("timedelta64[us]"))


def _zipf_index(rng, n, size, s):
    """Draws `size` ranks in [0, n) with P(rank k) proportional to 1/(k+1)^s."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=w / w.sum())


def registry_tables(out):
    """The sf0.01-sized fixture every registry key reads."""
    rng = np.random.default_rng(REGISTRY_TABLE_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part, n_ord, n_li, n_ev, n_doc, n_emb = (
        1500, 100, 2000, 15000, 60000, 10000, 500, 500)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32"))})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["small", "red", "blue", "hot", "cold", "old", "new", "large"])
    noun = np.array(["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_part)],
                                              noun[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": retail})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * 86400),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype("float64")
    pk = rng.integers(0, n_part, n_li)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": pk,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype("int32")),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pk] * rng.uniform(0.99, 1.01, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * 86400)})
    gaps = rng.exponential(259.0, n_ev)
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts("2024-01-01", np.minimum(np.cumsum(gaps), 30 * 86400 - 1)),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(20.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.02:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i > 10 and rng.random() < 0.03:
            texts.append(texts[int(rng.integers(0, i))] + " dup")  # near duplicate
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(BASE_WORDS)[rng.integers(0, len(BASE_WORDS), n)]))
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array([list(v) for v in vecs.astype("float32")],
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32"))})
    props = {"table_seed": REGISTRY_TABLE_SEED, "lineitem_rows": n_li, "orders_rows": n_ord,
             "events_rows": n_ev, "documents": n_doc, "embeddings": n_emb,
             "key_skew": "uniform keys", "zipf_exponent": None}
    return props


def _vocab(rng, size):
    """BASE_WORDS first (the most frequent ranks), then pronounceable filler."""
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    words, seen = list(BASE_WORDS), set(BASE_WORDS)
    while len(words) < size:
        w = "".join(cons[rng.integers(0, 16)] + vows[rng.integers(0, 5)]
                    for _ in range(int(rng.integers(2, 5))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def stream_plan(out, seed):
    """The electrons the stream generator offers, in offer order."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    vocab = _vocab(rng, 500)
    keys = _zipf_index(rng, STREAM_KEYS, STREAM_EVENTS, STREAM_ZIPF)
    payload = [" ".join(vocab[_zipf_index(rng, len(vocab), int(n), 1.1)])
               for n in rng.integers(3, 12, STREAM_EVENTS)]
    _write(f"{out}/plan.parquet", {
        "id": np.arange(STREAM_EVENTS, dtype="int64"),
        "key": [f"k{k}" for k in keys],
        "topic": np.array(STREAM_TOPICS)[rng.choice(len(STREAM_TOPICS), STREAM_EVENTS,
                                                    p=STREAM_TOPIC_P)],
        "payload": payload})
    top = np.bincount(keys, minlength=STREAM_KEYS).max() / STREAM_EVENTS
    return {"events": STREAM_EVENTS, "zipf_exponent": STREAM_ZIPF, "keys": STREAM_KEYS,
            "key_skew_top_share": round(float(top), 4),
            "topics": dict(zip(STREAM_TOPICS, STREAM_TOPIC_P))}


def ensure(kind, root, seed):
    """Generates one input under `root` unless a finished copy made by this
    version of the generator is there; returns (dir, input properties)."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    name = "registry_tables" if kind == "registry" else f"{kind}_{seed}"
    out = os.path.join(root, version, name)
    done = os.path.join(out, "props.json")
    if not os.path.exists(done):
        props = {"registry": lambda: registry_tables(out),
                 "stream": lambda: stream_plan(out, seed)}[kind]()
        with open(done, "w") as f:
            json.dump(props, f)
    with open(done) as f:
        return out, json.load(f)


if __name__ == "__main__":
    print(ensure(sys.argv[1], sys.argv[2], int(sys.argv[3])))
