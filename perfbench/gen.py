"""Seeded input generator for the benchmark workloads.

The engine reads the ten tables of the fixture layout (TESTDATA.md)
(region nation customer supplier part orders lineitem events documents
embeddings), one single-file parquet each, so DuckDB and the streaming
single-file layout both read them. This module writes them from a seed:
the same (workload, seed) always gives byte-identical files.

Shapes follow the sf0.01/sf0.1 fixtures (FIXTURES.md): the
same schemas, value domains and duplicate structure (5 % near-dup
documents that repeat another document plus a " dup" token, a few
exact duplicates, unit 64-d embeddings with a weak per-label mean).

A workload is a base corpus plus `copies` self-similar copies of the
three fact tables, using the remaps of graft.tools.ScaleFixture: per
copy c, ids move by c*1e8, document tokens get a `c<c>_` prefix, the
64 embedding dimensions rotate, and events move in time and user id.
Within-copy structure (duplicate groups, bucket sizes, distances) is
kept, and copies share no keys. The seed chooses the base rows and the
rotation and time shift of each copy.
"""
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = np.array(["de", "en", "es", "fr", "zh"])
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PNAME_A = ["blue", "cold", "hot", "large", "old", "red", "shiny", "small"]
PNAME_B = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
STATUS = np.array(["F", "O", "P"])
PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
ID_OFF = 100_000_000
DIM = 64

# rows of one copy; `sf` is the fixture scale factor the shape follows
BASE = {
    0.01: dict(customer=1500, supplier=100, part=2000, orders=15000,
               lineitem=60000, events=10000, users=150, documents=500,
               embeddings=500),
    0.1: dict(customer=15000, supplier=1000, part=20000, orders=150000,
              lineitem=600000, events=100000, users=1500, documents=5000,
              embeddings=2000),
}


def _ts(days_from, days_to, n, rng):
    """Whole-day timestamps, uniform over [days_from, days_to] (days since epoch)."""
    d = rng.integers(days_from, days_to + 1, n).astype("int64")
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def _days(iso):
    return int(np.datetime64(iso, "D").astype("int64"))


def _money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def dims(n, rng):
    c = n["customer"]
    s = n["supplier"]
    p = n["part"]
    o = n["orders"]
    li = n["lineitem"]
    part_names = [f"{a} {b}" for a in PNAME_A for b in PNAME_B]
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(c, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(-999.99, 9999.99, c, rng),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, c)]}),
        "supplier": pa.table({
            "s_suppkey": np.arange(s, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(-999.99, 9999.99, s, rng)}),
        "part": pa.table({
            "p_partkey": np.arange(p, dtype="int64"),
            "p_name": np.array(part_names)[rng.integers(0, 64, p)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
            "p_type": PTYPES[rng.integers(0, 6, p)],
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2)}),
        "orders": pa.table({
            "o_orderkey": np.arange(o, dtype="int64"),
            "o_custkey": rng.integers(0, c, o).astype("int64"),
            "o_orderstatus": STATUS[rng.integers(0, 3, o)],
            "o_totalprice": _money(1000, 500000, o, rng),
            "o_orderdate": _ts(_days("1995-01-01"), _days("2001-08-01"), o, rng),
            "o_orderpriority": PRIORITY[rng.integers(0, 5, o)]}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, o, li).astype("int64"),
            "l_partkey": rng.integers(0, p, li).astype("int64"),
            "l_suppkey": rng.integers(0, s, li).astype("int64"),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype("float64"),
            "l_extendedprice": _money(900, 105000, li, rng),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
            "l_shipdate": _ts(_days("1995-01-02"), _days("2001-11-04"), li, rng)}),
    }


def base_documents(n, rng):
    """Token texts; 5 % repeat another document plus " dup", 0.16 % repeat one exactly."""
    lens = rng.integers(10, 101, n)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lens]
    ids = rng.permutation(n)
    n_near, n_exact = n // 20, max(1, n // 625)
    for i in ids[:n_near]:
        texts[i] = texts[rng.integers(0, n)] + " dup"
    for i in ids[n_near:n_near + n_exact]:
        texts[i] = texts[rng.integers(0, n)]
    return texts


def base_vectors(n, rng):
    """Unit 64-d vectors: a per-label mean of norm 0.45 plus N(0, I)."""
    labels = rng.integers(0, 10, n)
    means = rng.normal(0, 1, (10, DIM))
    means *= 0.45 / np.linalg.norm(means, axis=1, keepdims=True)
    x = rng.normal(0, 1, (n, DIM)) + means[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype("float32"), labels


def facts(n, copies, rng):
    """documents, embeddings and events: `copies` remapped copies of one base."""
    texts = base_documents(n["documents"], rng)
    vecs, labels = base_vectors(n["embeddings"], rng)
    ne, users = n["events"], n["users"]
    gaps = rng.exponential(30 * 86400 / ne, ne)
    ev_ts = np.minimum(np.cumsum(gaps), 30 * 86400 - 1) * 1e6
    ev_user = rng.integers(0, users, ne)
    ev_type = rng.integers(0, 5, ne)
    ev_value = np.round(rng.exponential(50, ne), 2)
    ev_k = rng.integers(0, 100, ne)
    rot = [0] + list(rng.permutation(np.arange(1, DIM))[:copies - 1])
    shift_h = [0] + list(rng.integers(24, 72, copies - 1))

    doc_id, doc_text = [], []
    vec_id, vec, vec_label = [], [], []
    evs = {k: [] for k in ("event_id", "ts", "user_id", "event_type", "value", "props")}
    for c in range(copies):
        pre = f"c{c}_" if c else ""
        doc_id.append(np.arange(len(texts), dtype="int64") + c * ID_OFF)
        doc_text += texts if not c else [" ".join(pre + t for t in s.split(" ")) for s in texts]
        vec_id.append(np.arange(len(labels), dtype="int64") + c * ID_OFF)
        vec.append(np.roll(vecs, -rot[c], axis=1))
        vec_label.append(labels)
        evs["event_id"].append(np.arange(ne, dtype="int64") + c * ID_OFF)
        evs["ts"].append(ev_ts.astype("int64") + int(shift_h[c]) * 3_600_000_000
                         + _days("2024-01-01") * 86_400_000_000)
        evs["user_id"].append(ev_user + c * 1_000_000)
        evs["event_type"].append(EVENT_TYPES[ev_type])
        evs["value"].append(ev_value)
        evs["props"].append(ev_k)
    doc_id = np.concatenate(doc_id)
    nd = len(doc_text)
    lang = LANGS[rng.choice(5, nd, p=LANG_P)]
    vec = np.concatenate(vec)
    return {
        "documents": pa.table({
            "doc_id": doc_id,
            "text": doc_text,
            "lang": lang,
            "source": [f"src{i % 20}" for i in doc_id % ID_OFF],
            "n_chars": np.array([len(t) for t in doc_text], dtype="int64")}),
        "embeddings": pa.table({
            "vec_id": np.concatenate(vec_id),
            "embedding": pa.FixedSizeListArray.from_arrays(vec.reshape(-1), DIM)
            .cast(pa.list_(pa.float32())),
            "label": pa.array(np.concatenate(vec_label), pa.int32())}),
        "events": pa.table({
            "event_id": np.concatenate(evs["event_id"]),
            "ts": pa.array(np.concatenate(evs["ts"]), pa.timestamp("us")),
            "user_id": np.concatenate(evs["user_id"]).astype("int64"),
            "event_type": np.concatenate(evs["event_type"]),
            "value": np.concatenate(evs["value"]),
            "props": [f'{{"k": {k}}}' for k in np.concatenate(evs["props"])]}),
    }


def generate(out_dir, sf, copies, seed):
    """Write the workload's tables to out_dir unless already complete.

    Returns the seconds spent generating (0.0 when reused)."""
    done = os.path.join(out_dir, ".done")
    if os.path.exists(done):
        return 0.0
    t0 = time.perf_counter()
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = BASE[sf]
    tables = dims(n, rng)
    tables.update(facts(n, copies, rng))
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return time.perf_counter() - t0
