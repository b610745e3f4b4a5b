"""Seeded generator of the star-schema query inputs.

Writes one parquet file per table (`region nation customer supplier part
orders lineitem events documents embeddings`) in the shape the declared
queries read: TPC-H-like keys and value ranges, an ordered `events`
stream, a small-vocabulary `documents` corpus with planted near-duplicate
pairs, and unit-norm 64-d `embeddings`. `scale` multiplies the row
counts (scale 1 has 6,000 lineitems).

The same seed always yields byte-identical files. The query workloads
all read one dataset, `SEED` at `SCALE`, so a run's seed changes only the
order of the queries.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

SEED = 42
SCALE = 10.0  # 60,000 lineitems, the size of the repository's sf0.01 test data

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000      # 1995-01-01T00:00:00Z in micros
EPOCH_2024 = 1_704_067_200 * 1_000_000    # 2024-01-01T00:00:00Z in micros


def _ts(micros):
    return pa.array(micros, type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, n):
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)))
    # plant near-duplicates: a copy of an earlier doc with one small edit
    for i in sorted(rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False)):
        words = texts[int(rng.integers(0, i))].split()
        edit = int(rng.integers(0, 3))
        if edit == 0:
            words = words + ["dup"]
        elif edit == 1 and len(words) > 10:
            words = words[:-1]
        else:
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(words)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def generate(out, seed, scale=1.0):
    """Write every table under `out`; returns {table: rows}."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150 * scale))
    n_supp = max(5, int(10 * scale))
    n_part = max(20, int(200 * scale))
    n_ord = max(150, int(1500 * scale))
    n_line = 4 * n_ord
    n_ev = max(100, int(1000 * scale))
    n_doc = max(200, int(500 * scale))
    n_emb = max(200, int(500 * scale))
    rows = {}

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)])})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PTYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 1))})
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": _ts(EPOCH_1995 + order_days * DAY_US),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n_ord)])})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_line), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.10, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_line)]),
        "l_shipdate": _ts(EPOCH_1995 + (rng.integers(1, 2500, n_line)) * DAY_US)})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": pa.array(rng.integers(0, max(15, n_cust // 10), n_ev).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    _write(out, "documents", _documents(rng, n_doc))
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
    for name, n in (("customer", n_cust), ("supplier", n_supp), ("part", n_part),
                    ("orders", n_ord), ("lineitem", n_line), ("events", n_ev),
                    ("documents", n_doc), ("embeddings", n_emb)):
        rows[name] = n
    rows.update(region=5, nation=25)
    return rows


if __name__ == "__main__":
    import argparse
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    print(generate(a.out, a.seed, a.scale))
