"""Seeded input generator for the lake benchmark.

Same tables, schemas, cardinalities and planted-duplicate rates as the
engine's `graft.tools.GenSf`, and the same scheme: every column derives
from Spark's xxhash64(id, tag) (seed 42, XXH64 over the values' 8- or
4-byte forms), with no RNG state. Two differences:
  - the benchmark seed is folded into every hash tag
    (tag' = seed * 1000003 + tag), so each seed gives a different,
    reproducible dataset;
  - the multiplier is fractional: 0.1, 1 and 10 give 0.1x, 1x and 10x
    the sf0.1 cardinalities.

Tables are written as directory-style parquet (<out>/<table>.parquet/
part-00000.parquet) with the column types of the reference test data
(timestamp[us] without zone, int32 keys where it has them).

    python3 perfbench/gen.py OUT_DIR MULT SEED
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

P1 = np.uint64(0x9E3779B185EBCA87)
P2 = np.uint64(0xC2B2AE3D27D4EB4F)
P3 = np.uint64(0x165667B19E3779F9)
P4 = np.uint64(0x85EBCA77C2B2AE63)
P5 = np.uint64(0x27D4EB2F165667C5)
SPARK_SEED = 42


def _u64(x):
    return np.asarray(x).astype(np.int64).view(np.uint64)


def _rotl(x, r):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h):
    h = h ^ (h >> np.uint64(33))
    h = h * P2
    h = h ^ (h >> np.uint64(29))
    h = h * P3
    return h ^ (h >> np.uint64(32))


def hash_long(v, seed):
    """Spark XXH64.hashLong: v and seed are int64 arrays or scalars."""
    with np.errstate(over="ignore"):
        h = _u64(seed) + P5 + np.uint64(8)
        h = h ^ (_rotl(_u64(v) * P2, 31) * P1)
        h = _rotl(h, 27) * P1 + P4
        return _fmix(h).view(np.int64)


def hash_int(v, seed):
    """Spark XXH64.hashInt: v is an int32 value (array or scalar)."""
    with np.errstate(over="ignore"):
        h = _u64(seed) + P5 + np.uint64(4)
        h = h ^ ((np.asarray(v).astype(np.int64) & 0xFFFFFFFF).astype(np.uint64) * P1)
        h = _rotl(h, 23) * P2 + P3
        return _fmix(h).view(np.int64)


def pmod(h, n):
    return np.mod(h, np.int64(n))  # numpy mod takes the divisor's sign


class Gen:
    def __init__(self, seed):
        self.seed = seed

    def tag(self, t):
        return np.int64(self.seed * 1000003 + t)

    def h(self, ids, t):
        """xxhash64(id, tag) for int64 ids."""
        return hash_long(self.tag(t), hash_long(ids, SPARK_SEED))

    def u(self, ids, t):
        return pmod(self.h(ids, t), 1000000000) / 1000000000.0

    def ui(self, ids, t, n):
        return pmod(self.h(ids, t), n).astype(np.int32)

    def gauss(self, ids, t):
        return np.sqrt(-2.0 * np.log(1.0 - self.u(ids, t))) * \
            np.cos(2.0 * np.pi * self.u(ids, t + 1000))


def _pick(values, idx):
    return np.array(values, dtype=object)[idx]


def _ts(base_s, offset_us):
    return (np.int64(base_s) * 1000000 + offset_us).astype("datetime64[us]")


def _write(out, name, cols):
    d = os.path.join(out, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(d, "part-00000.parquet"))


def build(out, mult, seed):
    g = Gen(seed)
    n = lambda base: max(1, int(round(base * mult)))
    day = 86400
    d1995 = 788918400   # 1995-01-01 UTC
    d2024 = 1704067200  # 2024-01-01 UTC

    ids = np.arange(5, dtype=np.int64)
    _write(out, "region", {
        "r_regionkey": pa.array(ids.astype(np.int32)),
        "r_name": pa.array(_pick(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                  "MIDDLE EAST"], ids))})
    ids = np.arange(25, dtype=np.int64)
    _write(out, "nation", {
        "n_nationkey": pa.array(ids.astype(np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in ids]),
        "n_regionkey": pa.array((ids % 5).astype(np.int32))})

    n_cust = n(15000)
    ids = np.arange(n_cust, dtype=np.int64)
    _write(out, "customer", {
        "c_custkey": pa.array(ids),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ids]),
        "c_nationkey": pa.array(g.ui(ids, 1, 25)),
        "c_acctbal": pa.array(np.round(g.u(ids, 2) * 11000.0 - 1000.0, 2)),
        "c_mktsegment": pa.array(_pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], g.ui(ids, 3, 5)))})

    n_supp = n(1000)
    ids = np.arange(n_supp, dtype=np.int64)
    _write(out, "supplier", {
        "s_suppkey": pa.array(ids),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in ids]),
        "s_nationkey": pa.array(g.ui(ids, 4, 25)),
        "s_acctbal": pa.array(np.round(g.u(ids, 5) * 11000.0 - 1000.0, 2))})

    n_part = n(20000)
    ids = np.arange(n_part, dtype=np.int64)
    adj = _pick(["blue", "cold", "hot", "large", "red", "shiny", "small", "warm"],
                g.ui(ids, 6, 8))
    noun = _pick(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"],
                 g.ui(ids, 7, 8))
    _write(out, "part", {
        "p_partkey": pa.array(ids),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in g.ui(ids, 8, 25)]),
        "p_type": pa.array(_pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                  "STANDARD"], g.ui(ids, 9, 6))),
        "p_size": pa.array(g.ui(ids, 10, 50) + 1),
        "p_retailprice": pa.array(np.round(900.0 + g.u(ids, 11) * 100.0, 2))})

    n_orders = n(150000)
    ok = np.arange(n_orders, dtype=np.int64)
    o_date_s = d1995 + g.ui(ok, 15, 2404).astype(np.int64) * day
    _write(out, "orders", {
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(pmod(g.h(ok, 12), n_cust)),
        "o_orderstatus": pa.array(_pick(["F", "O", "P"], g.ui(ok, 13, 3))),
        "o_totalprice": pa.array(np.round(1000.0 + g.u(ok, 14) * 499000.0, 2)),
        "o_orderdate": pa.array(_ts(0, o_date_s * 1000000)),
        "o_orderpriority": pa.array(_pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"],
                                          g.ui(ok, 16, 5)))})

    # 1..7 lines per order; line-scoped streams key off lid = key*10 + line
    lines = g.ui(ok, 17, 7).astype(np.int64) + 1
    l_ok = np.repeat(ok, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_no = (np.arange(len(l_ok)) - starts + 1).astype(np.int32)
    lid = l_ok * 10 + l_no
    ship_s = np.repeat(o_date_s, lines) + g.ui(lid, 26, 95).astype(np.int64) * day
    _write(out, "lineitem", {
        "l_orderkey": pa.array(l_ok),
        "l_partkey": pa.array(pmod(g.h(lid, 18), n_part)),
        "l_suppkey": pa.array(pmod(g.h(lid, 19), n_supp)),
        "l_linenumber": pa.array(l_no),
        "l_quantity": pa.array((g.ui(lid, 20, 50) + 1).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(900.0 + g.u(lid, 21) * 104100.0, 2)),
        "l_discount": pa.array(np.round(g.u(lid, 22) * 0.1, 2)),
        "l_tax": pa.array(np.round(g.u(lid, 23) * 0.08, 2)),
        "l_returnflag": pa.array(_pick(["A", "N", "R"], g.ui(lid, 24, 3))),
        "l_linestatus": pa.array(_pick(["F", "O"], g.ui(lid, 25, 2))),
        "l_shipdate": pa.array(_ts(0, ship_s * 1000000))})

    n_events = n(100000)
    n_users = n(1500)
    ids = np.arange(n_events, dtype=np.int64)
    offset_us = (g.u(ids, 27) * 30.0 * day * 1e6).astype(np.int64)
    _write(out, "events", {
        "event_id": pa.array(ids),
        "ts": pa.array(_ts(d2024, offset_us)),
        "user_id": pa.array(pmod(g.h(ids, 28), n_users)),
        "event_type": pa.array(_pick(["click", "error", "purchase", "signup",
                                      "view"], g.ui(ids, 29, 5))),
        "value": pa.array(np.round(-50.0 * np.log(1.0 - g.u(ids, 30)), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in g.ui(ids, 31, 100)])})

    # ~5% near-duplicate copies (first word replaced) and ~0.16% verbatim
    # copies of fresh documents
    n_docs = n(5000)
    n_near = n_docs // 20
    n_exact = max(n_docs * 16 // 10000, 1)
    n_fresh = n_docs - n_near - n_exact
    vocab = np.array([
        "a", "agg", "batch", "big", "column", "customer", "data", "dup",
        "fast", "filter", "group", "hash", "join", "key", "line", "merge",
        "order", "part", "query", "row", "scan", "slow", "small", "sort",
        "spark", "stream", "table", "the", "value", "vector", "window"], dtype=object)
    fresh = np.arange(n_fresh, dtype=np.int64)
    words = g.ui(fresh, 32, 98).astype(np.int64) + 8
    w_doc = np.repeat(fresh, words)
    w_pos = (np.arange(len(w_doc)) - np.repeat(np.cumsum(words) - words, words) + 1)
    w_h = hash_long(g.tag(33), hash_int(w_pos, hash_long(w_doc, SPARK_SEED)))
    w_txt = vocab[pmod(w_h, len(vocab))]
    bounds = np.cumsum(words)
    text = [" ".join(w_txt[b - k:b]) for b, k in zip(bounds, words)]
    lang = _pick(["en", "en", "en", "en", "zh", "es", "fr", "de"], g.ui(fresh, 34, 8))
    source = [f"src{s}" for s in g.ui(fresh, 35, 20)]
    near = np.arange(n_near, dtype=np.int64)
    near_src = pmod(g.h(near, 36), n_fresh)
    exact = np.arange(n_exact, dtype=np.int64)
    exact_src = pmod(g.h(exact, 37), n_fresh)
    doc_id = np.concatenate([fresh, near + n_fresh, exact + n_fresh + n_near])
    srcs = np.concatenate([fresh, near_src, exact_src])
    texts = text + ["dup" + text[s][text[s].index(" "):] for s in near_src] + \
        [text[s] for s in exact_src]
    _write(out, "documents", {
        "doc_id": pa.array(doc_id),
        "text": pa.array(texts),
        "lang": pa.array(lang[srcs]),
        "source": pa.array([source[s] for s in srcs]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    n_vecs = n(2000)
    ids = np.arange(n_vecs, dtype=np.int64)
    raw = g.gauss((ids[:, None] * 100 + np.arange(64)[None, :]).ravel(), 38) \
        .reshape(n_vecs, 64)
    vecs = (raw / np.sqrt((raw * raw).sum(axis=1, keepdims=True))).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(ids),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(g.ui(ids, 39, 10))})


if __name__ == "__main__":
    build(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
