"""Seeded input generator for the three benchmark workloads.

Everything the engine receives is written here, from the seed alone:
the same seed gives byte-identical files (see test_gen.py).

  fixtures(seed, dir)   the ten fixture tables the query surface reads
                        (region ... embeddings), with the schemas and
                        value domains of the engine's test fixtures
  query_mix(seed, dir)  the fixtures plus a seeded order of QUERIES
  delta_txn(seed, dir)  the initial rows of one Delta table and a
                        seeded op script (appends, MERGE upserts,
                        UPDATEs, DELETEs, compactions, reads)
  dedup_ingest(seed, dir)  a seed corpus and the document batches,
                        with planted near-copies of earlier documents

Run as `python3 gen.py WORKLOAD SEED DIR` to write one workload's inputs.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Non-writing queries the query_mix workload cycles through: one per
# read-only operator module (Relational, EventOps, TextOps, DedupOps,
# SimilarityOps, MultimodalOps); the DedupOps and MultimodalOps ones
# serve staged indexes (StagedCache). The whole read-only surface (~115
# queries, ~70 s warm) does not fit a run of the benchmark, so the set
# is fixed here and the seed only orders it.
QUERIES = [
    "q15_pricing_summary", "q50_hourly_rollup", "q21_token_stats",
    "q31_ngram_jaccard", "q40_ann_bruteforce", "q136_media_neardup",
]

WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
EMBED_DIM = 64

# fixture sizes (rows); the engine's sf0.01 fixtures have the same shape
SIZES = {"customer": 1500, "supplier": 100, "part": 2000,
         "orders": 15000, "lineitem": 60000, "events": 10000,
         "documents": 500, "embeddings": 500}

# delta_txn: table size, rows per DML op, op script length
TXN_ROWS = 20000
TXN_OP_ROWS = 200
TXN_OPS = 600
# one block of the script; each block is shuffled by the seed, so every
# run (whole blocks) sees the same op mix in a different order
TXN_BLOCK = (["append"] * 2 + ["merge"] * 2 + ["update", "delete"] +
             ["read"] * 2 + ["timetravel", "compact"])

# dedup_ingest: seed corpus size, batch size, batches, near-copy share
DEDUP_SEED_DOCS = 600
DEDUP_BATCH = 200
DEDUP_BATCHES = 40
DEDUP_COPY_FRAC = 0.2


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _texts(rng, n, lo=10, hi=100):
    lens = rng.integers(lo, hi, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in idx[at:at + k]))
        at += k
    return out


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def fixtures(seed, d):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(d, exist_ok=True)
    n = SIZES
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{d}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{d}/nation.parquet")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n["customer"])]}),
        f"{d}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)}),
        f"{d}/supplier.parquet")
    adj = ["small", "red", "blue", "large", "hot", "cold", "new", "old"]
    noun = ["ring", "widget", "bolt", "gear", "plate", "rod", "anvil", "gizmo"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    np_ = n["part"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": [types[i] for i in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 2)}),
        f"{d}/part.parquet")
    no = n["orders"]
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", 2404),
                                pa.timestamp("us")),
        "o_orderpriority": [prio[i] for i in rng.integers(0, 5, no)]}),
        f"{d}/orders.parquet")
    nl = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-01", 2600),
                               pa.timestamp("us"))}),
        f"{d}/lineitem.parquet")
    ne = n["events"]
    gaps = rng.integers(1, 2 * 30 * 86400 * 10**6 // ne, ne)
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") +
                       np.cumsum(gaps).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50, ne), 2) + 0.01,
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)]}),
        f"{d}/events.parquet")
    _write(_documents(rng, n["documents"], 0, 0.05), f"{d}/documents.parquet")
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    v = centers[labels] + rng.normal(0, 0.6, (nv, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{d}/embeddings.parquet")


def _documents(rng, n, first_id, dup_frac):
    """Documents with ids first_id.. ; a dup_frac share are an earlier
    document of the same set plus a trailing ' dup' token."""
    texts = _texts(rng, n)
    for i in np.flatnonzero(rng.random(n) < dup_frac):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(first_id, first_id + n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def query_mix(seed, d):
    fixtures(seed, d)
    order = np.random.default_rng([seed, 2]).permutation(len(QUERIES))
    with open(f"{d}/queries.json", "w") as f:
        json.dump([QUERIES[i] for i in order], f)


def _txn_rows(rng, keys):
    n = len(keys)
    return {"k": keys.astype(np.int64),
            "g": rng.integers(0, 16, n).astype(np.int32),
            "v": np.round(rng.uniform(0, 1000, n), 3),
            "c": np.zeros(n, np.int64),
            "s": [f"item-{int(k)}-" + "x" * int(w)
                  for k, w in zip(keys, rng.integers(8, 40, n))]}


def delta_txn(seed, d):
    """Initial table rows plus an op script. DML rows live in one
    parquet file (`op` column = script index); keys are unique per
    op. Appends insert fresh keys; merges upsert half existing, half
    fresh keys; UPDATE/DELETE conditions are `k % m = r` (m, r in the
    op), reads are a key range of the latest or an earlier version."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(d, exist_ok=True)
    init = _txn_rows(rng, np.arange(TXN_ROWS))
    _write(pa.table(init), f"{d}/initial.parquet")
    next_key, ops, parts = TXN_ROWS, [], []
    while len(ops) < TXN_OPS:
        for kind in [TXN_BLOCK[i] for i in rng.permutation(len(TXN_BLOCK))]:
            op = {"i": len(ops), "kind": kind}
            if kind in ("append", "merge"):
                fresh = TXN_OP_ROWS if kind == "append" else TXN_OP_ROWS // 2
                keys = np.arange(next_key, next_key + fresh)
                next_key += fresh
                if kind == "merge":
                    old = rng.choice(next_key - fresh, TXN_OP_ROWS - fresh,
                                     replace=False)
                    keys = np.concatenate([old, keys])
                rows = _txn_rows(rng, keys)
                rows["op"] = np.full(len(keys), op["i"], np.int32)
                parts.append(pa.table(rows))
            elif kind == "update":
                op.update(m=97, r=int(rng.integers(0, 97)),
                          dv=round(float(rng.uniform(1, 10)), 3))
            elif kind == "delete":
                op.update(m=211, r=int(rng.integers(0, 211)))
            elif kind in ("read", "timetravel"):
                lo = int(rng.integers(0, next_key))
                op.update(lo=lo, hi=lo + 4000,
                          back=int(rng.integers(1, 20)))
            ops.append(op)
    _write(pa.concat_tables(parts), f"{d}/op_rows.parquet")
    with open(f"{d}/ops.json", "w") as f:
        json.dump(ops, f)


def dedup_ingest(seed, d):
    """Seed corpus (documents.parquet, the pipeline's seed index input)
    and DEDUP_BATCHES batches of new documents. A DEDUP_COPY_FRAC share
    of each batch are near-copies (text + ' dup') of a document from
    the corpus or an earlier batch; planted.json lists (copy, original)."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(d, exist_ok=True)
    corpus = _documents(rng, DEDUP_SEED_DOCS, 0, 0.0)
    _write(corpus, f"{d}/documents.parquet")
    texts = dict(zip(corpus["doc_id"].to_pylist(), corpus["text"].to_pylist()))
    planted, parts = [], []
    for b in range(DEDUP_BATCHES):
        first = 10_000_000 * (b + 1)
        batch = _texts(rng, DEDUP_BATCH, 60, 200)
        ids = list(range(first, first + DEDUP_BATCH))
        ncopy = int(DEDUP_BATCH * DEDUP_COPY_FRAC)
        earlier = list(texts)
        for j in rng.choice(DEDUP_BATCH, ncopy, replace=False):
            orig = earlier[int(rng.integers(0, len(earlier)))]
            while len(texts[orig].split()) < 30:
                orig = earlier[int(rng.integers(0, len(earlier)))]
            batch[j] = texts[orig] + " dup"
            planted.append([ids[j], orig])
        texts.update(zip(ids, batch))
        parts.append(pa.table({
            "batch": pa.array([b] * DEDUP_BATCH, pa.int32()),
            "doc_id": pa.array(ids, pa.int64()), "text": batch}))
    _write(pa.concat_tables(parts), f"{d}/batches.parquet")
    with open(f"{d}/planted.json", "w") as f:
        json.dump(planted, f)


WORKLOADS = {"query_mix": query_mix, "delta_txn": delta_txn,
             "dedup_ingest": dedup_ingest}


def sizes(workload):
    """Input sizes, printed with the metrics."""
    if workload == "query_mix":
        return {"queries": len(QUERIES), **SIZES}
    if workload == "delta_txn":
        return {"initial_rows": TXN_ROWS, "rows_per_dml": TXN_OP_ROWS,
                "script_ops": TXN_OPS}
    return {"seed_docs": DEDUP_SEED_DOCS, "batch_docs": DEDUP_BATCH,
            "batches": DEDUP_BATCHES, "near_copy_frac": DEDUP_COPY_FRAC}


if __name__ == "__main__":
    WORKLOADS[sys.argv[1]](int(sys.argv[2]), sys.argv[3])
