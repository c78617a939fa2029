"""Seeded input generator: the ten tables of the repository's GenData, in
the shapes (schemas, key ranges, value grids) of the test fixtures, with
the workload seed mixed into every hash salt. The same (seed, spec) always
gives the same files.

Every column is a pure hash of (row id, column salt, seed) — SplitMix64,
vectorised with numpy — so generation is fast and order-free.

The curation corpus (`near_dup_chains`) differs from GenData's pair-only
duplicates: near-duplicate clusters come in a spread of sizes, each built
as a chain of single-token edits, so consecutive members clear the 0.8
Jaccard threshold while distant ones may not, and cluster resolution needs
several rounds.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

VOCAB = ["batch", "part", "spark", "line", "column", "order", "small",
         "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
         "filter", "query", "big", "key", "window", "row", "table",
         "stream", "merge", "data", "vector", "a", "the", "join", "customer"]

_U64 = np.uint64


def _mix(x):
    """SplitMix64 finaliser over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = x + _U64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)
        return x ^ (x >> _U64(31))


class Hasher:
    def __init__(self, seed):
        self.seed = int(seed) & 0xFFFFFFFF

    def salt(self, s):
        return _mix(np.array([(self.seed << 20) ^ s], dtype=np.uint64))[0]

    def h(self, ids, s):
        return _mix(np.asarray(ids, dtype=np.uint64) ^ self.salt(s))

    def u(self, ids, s, m):
        """Uniform int64 in [0, m) per id."""
        return (self.h(ids, s) % _U64(m)).astype(np.int64)


def _pick(idx, options):
    return np.asarray(options, dtype=object)[idx]


def _days(base, n_days):
    return (np.datetime64(base, "D") + n_days.astype("timedelta64[D]")).astype("datetime64[us]")


def _write(out_dir, name, cols, schema):
    table = pa.Table.from_arrays([pa.array(cols[f.name], type=f.type) for f in schema],
                                 schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _text(h, ids, salt, lo, hi, vocab=VOCAB):
    """Token lists: length in [lo, hi), tokens from `vocab`, per id."""
    lens = h.u(ids, salt, hi - lo) + lo
    out = []
    for i, n in zip(ids, lens):
        toks = h.u(np.arange(n, dtype=np.int64) + (int(i) << 8), salt + 1, len(vocab))
        out.append([vocab[t] for t in toks])
    return out


def gendata_docs(h, n):
    """GenData's documents: ~4% re-generate the previous doc's tokens and
    append a tail token (a near-duplicate pair)."""
    ids = np.arange(n, dtype=np.int64)
    dup = (h.u(ids, 33, 25) == 0) & (ids > 0)
    base = np.where(dup, ids - 1, ids)
    toks = _text(h, base, 34, 12, 92)
    tail = h.u(ids, 35, len(VOCAB))
    return [" ".join(t + [VOCAB[tail[i]]] if dup[i] else t) for i, t in enumerate(toks)]


def near_dup_chains(h, n, vocab_size):
    """Curation corpus: clusters of 1-4 docs of 60-140 tokens drawn from the
    first `vocab_size` words; each member after the first rewrites one
    token in 40 of its predecessor, so chain neighbours clear the 0.8
    Jaccard threshold on 3-shingles and members two or more edits apart
    mostly do not."""
    vocab = VOCAB[:vocab_size]
    texts = []
    cid = 0
    while len(texts) < n:
        size = 1 if h.u([cid], 40, 10)[0] < 5 else int(h.u([cid], 41, 3)[0]) + 2
        toks = _text(h, [cid + (1 << 40)], 42, 60, 140, vocab)[0]
        for j in range(min(size, n - len(texts))):
            if j:
                toks = list(toks)
                edits = max(1, len(toks) // 40)
                k = (cid * 64 + j) << 6
                ks = np.arange(edits, dtype=np.int64) + k
                pos, word = h.u(ks, 43, 1 << 30), h.u(ks, 44, len(vocab) - 1)
                for p, w in zip(pos, word):
                    cur = vocab.index(toks[p % len(toks)])
                    toks[p % len(toks)] = vocab[(cur + 1 + w) % len(vocab)]
            texts.append(" ".join(toks))
        cid += 1
    return texts


def generate(out_dir, seed, sf, docs=None, chains=0):
    """Write the ten tables at scale `sf` (lineitem = 6M * sf rows).
    `docs` overrides the document count; `chains` > 0 selects the
    curation corpus over that many words. Returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    h = Hasher(seed)
    n_cust, n_supp, n_part = int(150000 * sf), max(int(10000 * sf), 10), int(200000 * sf)
    n_ord, n_line, n_evt = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc = int(docs if docs is not None else 50000 * sf)
    n_emb, n_users = int(50000 * sf), max(int(15000 * sf), 10)
    rows = {}
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def sch(*fields):
        return pa.schema([pa.field(n, t) for n, t in fields])

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        sch(("r_regionkey", i32), ("r_name", s)))
    nk = np.arange(25, dtype=np.int32)
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk],
        "n_regionkey": nk % 5}, sch(("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)))

    ids = np.arange(n_cust, dtype=np.int64)
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": ids, "c_name": [f"Customer#{k:09d}" for k in ids],
        "c_nationkey": h.u(ids, 1, 25).astype(np.int32),
        "c_acctbal": h.u(ids, 2, 1000000) / 100.0,
        "c_mktsegment": _pick(h.u(ids, 3, 5), ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                "HOUSEHOLD", "MACHINERY"])},
        sch(("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64),
            ("c_mktsegment", s)))

    ids = np.arange(n_supp, dtype=np.int64)
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": ids, "s_name": [f"Supplier#{k:09d}" for k in ids],
        "s_nationkey": h.u(ids, 4, 25).astype(np.int32),
        "s_acctbal": h.u(ids, 5, 1000000) / 100.0},
        sch(("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)))

    ids = np.arange(n_part, dtype=np.int64)
    adjs = ["large", "hot", "small", "cold", "steel", "brushed"]
    nouns = ["ring", "bolt", "pin", "cap", "disk", "plate"]
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": ids,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(h.u(ids, 6, 6), adjs),
                                             _pick(h.u(ids, 7, 6), nouns))],
        "p_brand": [f"Brand#{b}" for b in h.u(ids, 8, 25)],
        "p_type": _pick(h.u(ids, 9, 6), ["LARGE", "ECONOMY", "STANDARD", "SMALL",
                                         "MEDIUM", "PROMO"]),
        "p_size": (h.u(ids, 10, 50) + 1).astype(np.int32),
        "p_retailprice": (90000 + h.u(ids, 11, 10000) * 10) / 100.0},
        sch(("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
            ("p_size", i32), ("p_retailprice", f64)))

    ids = np.arange(n_ord, dtype=np.int64)
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": ids, "o_custkey": h.u(ids, 12, n_cust),
        "o_orderstatus": _pick(h.u(ids, 13, 3), ["O", "F", "P"]),
        "o_totalprice": h.u(ids, 14, 40000000) / 100.0,
        "o_orderdate": _days("1992-01-01", h.u(ids, 15, 3470)),
        "o_orderpriority": _pick(h.u(ids, 16, 5), ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                   "4-NOT SPECIFIED", "5-LOW"])},
        sch(("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
            ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)))

    ids = np.arange(n_line, dtype=np.int64)
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": h.u(ids, 17, n_ord), "l_partkey": h.u(ids, 18, n_part),
        "l_suppkey": h.u(ids, 19, n_supp),
        "l_linenumber": (h.u(ids, 20, 7) + 1).astype(np.int32),
        "l_quantity": (h.u(ids, 21, 50) + 1).astype(np.float64),
        "l_extendedprice": h.u(ids, 22, 10000000) / 100.0,
        "l_discount": h.u(ids, 23, 11) / 100.0, "l_tax": h.u(ids, 24, 9) / 100.0,
        "l_returnflag": _pick(h.u(ids, 25, 3), ["A", "N", "R"]),
        "l_linestatus": _pick(h.u(ids, 26, 2), ["O", "F"]),
        "l_shipdate": _days("1992-01-01", h.u(ids, 27, 3650))},
        sch(("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
            ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
            ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
            ("l_linestatus", s), ("l_shipdate", ts)))

    ids = np.arange(n_evt, dtype=np.int64)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    rows["events"] = _write(out_dir, "events", {
        "event_id": ids,
        "ts": t0 + h.u(ids, 28, 30 * 86400 * 1000000).astype("timedelta64[us]"),
        "user_id": h.u(ids, 29, n_users),
        "event_type": _pick(h.u(ids, 30, 5), ["click", "view", "purchase", "signup", "error"]),
        "value": h.u(ids, 31, 10000) / 100.0,
        "props": [f'{{"k": {k}}}' for k in h.u(ids, 32, 100)]},
        sch(("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
            ("value", f64), ("props", s)))

    ids = np.arange(n_doc, dtype=np.int64)
    texts = near_dup_chains(h, n_doc, chains) if chains else gendata_docs(h, n_doc)
    lang_pick = h.u(ids, 36, 20)
    langs = np.where(lang_pick < 8, "en",
                     _pick((lang_pick % 4) + 1, ["en", "es", "fr", "de", "zh"]))
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": ids, "text": texts, "lang": langs,
        "source": [f"src{k}" for k in h.u(ids, 37, 20)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        sch(("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)))

    ids = np.arange(n_emb, dtype=np.int64)
    label = h.u(ids, 38, 10)
    dims = np.arange(64, dtype=np.int64)
    centre = (h.u((label[:, None] << 8) + dims[None, :], 39, 2001) / 1000.0) - 1.0
    noise = (h.u((ids[:, None] << 8) + dims[None, :], 40, 401) / 1000.0) - 0.2
    emb = (centre + noise).astype(np.float32)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": ids, "embedding": list(emb), "label": label.astype(np.int32)},
        sch(("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)))
    return rows


if __name__ == "__main__":
    import sys
    t = datetime.datetime.now()
    print(generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])),
          datetime.datetime.now() - t)
