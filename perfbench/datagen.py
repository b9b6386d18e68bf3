"""Seeded input tables for the benchmark.

Writes the ten tables the registered queries read (region ... embeddings)
as parquet under one directory, with the schemas and value domains of the
shipped synthetic star schema (see FIXTURES.md). Everything derives from
the seed, so one seed always gives byte-identical inputs.

`documents` is a generated corpus: a heavy-tailed (Zipf-Mandelbrot)
vocabulary whose words mix ASCII and accented Unicode letters, with
capitalised sentence starts and punctuation, written as several parquet
files so the scan spans more than one input split.
"""
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]  # en twice: ~2/6 of docs
# Letters for generated words: ASCII plus precomposed Latin-1 letters
# whose lower/upper case maps are 1:1 in both Java and DuckDB.
ASCII = "abcdefghijklmnoprstuvyz"
ACCENTED = "áéíóúàèçñüöä"


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def vocabulary(rng, size):
    """`size` distinct words of 2-9 letters; ~6% of letters accented."""
    letters = np.array(list(ASCII + ACCENTED))
    p = np.r_[np.full(len(ASCII), 0.94 / len(ASCII)), np.full(len(ACCENTED), 0.06 / len(ACCENTED))]
    words, seen = [], set()
    while len(words) < size:
        lens = rng.integers(2, 10, size)
        chars = letters[rng.choice(len(letters), int(lens.sum()), p=p)]
        ends = np.cumsum(lens)
        for start, end in zip(ends - lens, ends):
            w = "".join(chars[start:end])
            if w not in seen and len(words) < size:
                seen.add(w)
                words.append(w)
    return words


def corpus(rng, n_docs, vocab_size, mean_words):
    """Doc texts drawn from a Zipf-Mandelbrot word distribution."""
    vocab = np.asarray(vocabulary(rng, vocab_size), dtype=object)
    ranks = np.arange(vocab_size, dtype=np.float64)
    p = 1.0 / (ranks + 2.7) ** 1.07
    p /= p.sum()
    lengths = np.clip(rng.lognormal(np.log(mean_words), 0.5, n_docs), 5, 8 * mean_words).astype(int)
    ids = rng.choice(vocab_size, size=int(lengths.sum()), p=p)
    marks = rng.random(ids.size)
    texts, pos = [], 0
    for n in lengths:
        out, start = [], True
        for j in range(pos, pos + n):
            w = vocab[ids[j]]
            out.append(w.capitalize() if start else w)
            start = False
            if j < pos + n - 1:
                if marks[j] < 0.06:
                    out.append(". ")
                    start = True
                elif marks[j] < 0.10:
                    out.append(", ")
                else:
                    out.append(" ")
        texts.append("".join(out) + ".")
        pos += n
    return texts


def generate(out_dir, seed, scale=0.01, docs=500, doc_files=1, vocab=2000,
             doc_words=50):
    """Write all tables under `out_dir`; returns a summary of the corpus.

    `scale` sizes the star schema and `events` like the shipped sf
    directories (scale 0.01: 60k lineitem rows, 10k events); `docs`,
    `vocab` and `doc_words` size the generated corpus, split over
    `doc_files` parquet files.
    """
    os.makedirs(out_dir, exist_ok=True)
    root = np.random.SeedSequence(seed)
    rngs = dict(zip(["customer", "supplier", "part", "orders", "lineitem",
                     "events", "documents", "embeddings"],
                    [np.random.default_rng(s) for s in root.spawn(8)]))
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = 4 * n_ord
    n_evt = int(1_000_000 * scale)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")

    r = rngs["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust)}), f"{out_dir}/customer.parquet")

    r = rngs["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out_dir}/supplier.parquet")

    r = rngs["part"]
    keys = np.arange(n_part)
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": _pick(r, names, n_part),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900 + (keys % 1000) / 10.0}), f"{out_dir}/part.parquet")

    r = rngs["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(EPOCH_1995 + r.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord)}), f"{out_dir}/orders.parquet")

    r = rngs["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": pa.array(EPOCH_1995 + (1 + r.integers(0, 2499, n_line)) * DAY_US)}),
        f"{out_dir}/lineitem.parquet")

    r = rngs["events"]
    gaps = r.exponential(1.0, n_evt)
    ts = EPOCH_2024 + (np.cumsum(gaps) / gaps.sum() * 30 * DAY_US * 0.999).astype(np.int64)
    _write(pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(r.integers(0, max(150, n_evt // 66), n_evt), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, n_evt),
        "value": np.round(r.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)]}),
        f"{out_dir}/events.parquet")

    r = rngs["documents"]
    texts = corpus(r, docs, vocab, doc_words)
    doc_tab = pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": texts,
        "lang": _pick(r, LANGS, docs),
        "source": _pick(r, [f"src{i}" for i in range(20)], docs),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    if doc_files == 1:
        _write(doc_tab, f"{out_dir}/documents.parquet")
    else:
        os.makedirs(f"{out_dir}/documents.parquet", exist_ok=True)
        bounds = np.linspace(0, docs, doc_files + 1).astype(int)
        for i in range(doc_files):
            _write(doc_tab.slice(bounds[i], bounds[i + 1] - bounds[i]),
                   f"{out_dir}/documents.parquet/part-{i:05d}.parquet")

    r = rngs["embeddings"]
    n_vec = max(500, int(20_000 * scale))
    vecs = r.normal(0.0, 1.0, (n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vec), pa.int32())}),
        f"{out_dir}/embeddings.parquet")

    words = set(re.findall(r"[^\W\d_]+", " ".join(texts).lower()))
    return {"docs": docs, "bytes": sum(len(t.encode()) for t in texts),
            "distinct_words": len(words)}
