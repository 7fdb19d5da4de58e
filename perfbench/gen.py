"""Seeded input generator for the benchmark.

`tables(out)` writes the star-schema fixture the engine's queries read
(`region nation customer supplier part orders lineitem events documents
embeddings`, one parquet file each) at 1/100 of TPC-H scale, with the
column types and value domains of the engine's test fixtures. Its
generator seed is fixed, so the per-query result digests in
`expected.json` stay valid; the workload seed only reorders the queries.

`corpus(out, seed)` writes the curation corpus: base documents plus
key-shifted copies with seeded word edits, so near-duplicates fall on
both sides of the dedup threshold. The same seed gives byte-identical
files; another seed gives other documents and other edits.

Run as `python3 perfbench/gen.py tables <dir>` or
`python3 perfbench/gen.py corpus <file> <seed>`.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
SCALE = 0.01
VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
# edit rate of copy c is EDIT_STEP * c: 0 % .. 18 % over ten copies,
# which straddles the 0.5 shingle-Jaccard dedup threshold (~12 %)
COPIES = 10
EDIT_STEP = 0.02
CORPUS_BASE_DOCS = 100
COPY_KEY_SHIFT = 1_000_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _day(start, days):
    return (np.datetime64(start, "D") + days).astype("datetime64[us]")


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    return [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)) for k in lens]


def tables(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(TABLE_SEED))
    n_cust, n_supp, n_part = int(150_000 * SCALE), int(10_000 * SCALE), int(200_000 * SCALE)
    n_ord, n_li, n_ev, n_doc, n_emb = (int(1_500_000 * SCALE), int(6_000_000 * SCALE),
                                       int(1_000_000 * SCALE), 500, 500)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    _write(pa.table({"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust), s)}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)}),
        f"{out}/supplier.parquet")
    adj = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
    noun = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1), f64)}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(money(1000, 500000, n_ord), f64),
        "o_orderdate": pa.array(_day("1995-01-01", rng.integers(0, 2405, n_ord)), ts),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord), s)}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
        "l_extendedprice": pa.array(money(900, 105000, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
        "l_shipdate": pa.array(_day("1995-01-02", rng.integers(0, 2498, n_li)), ts)}),
        f"{out}/lineitem.parquet")
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, n_ev // 67, n_ev), i64),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n_ev), s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev) + 0.01, 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    texts = _texts(rng, n_doc)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), s),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)}),
        f"{out}/documents.parquet")
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)}),
        f"{out}/embeddings.parquet")


def corpus(out, seed, base_docs=CORPUS_BASE_DOCS, copies=COPIES):
    """Base documents plus `copies` key-shifted copies of each: copy c
    replaces each word with a random vocabulary word at rate
    EDIT_STEP * c, and every 25th base document carries an email or a
    phone number for the redaction step."""
    rng = np.random.Generator(np.random.PCG64(seed))
    base = [t.split() for t in _texts(rng, base_docs)]
    for i in range(0, base_docs, 25):
        pii = (f"user{i}@mail.example.com" if i % 50 == 0
               else f"({10 + i % 89}) 9{i:04d}-{i % 10000:04d}")
        base[i].insert(int(rng.integers(0, len(base[i]))), pii)
    ids, texts, sources = [], [], []
    for c in range(copies):
        rate = EDIT_STEP * c
        for i, words in enumerate(base):
            edit = rng.random(len(words)) < rate
            repl = rng.integers(0, len(VOCAB), len(words))
            ids.append(c * COPY_KEY_SHIFT + i)
            texts.append(" ".join(VOCAB[r] if e else w for w, e, r in zip(words, edit, repl)))
            sources.append(f"src{i % 8}")
    _write(pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts, pa.string()),
                     "source": pa.array(sources, pa.string())}), out)


if __name__ == "__main__":
    if sys.argv[1] == "tables":
        tables(sys.argv[2])
    elif sys.argv[1] == "corpus":
        corpus(sys.argv[2], int(sys.argv[3]))
    else:
        sys.exit(f"unknown target {sys.argv[1]!r}")
