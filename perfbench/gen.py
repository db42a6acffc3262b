"""Seeded input generators for the benchmark.

Every table is a pure function of (seed, size): the same seed writes the
same rows. The star-schema tables follow the shapes, value ranges and
column types of the project's TPC-H-ish test tables (see TESTDATA.md), so
the SQL gates and their DuckDB oracles run unchanged on them.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["bolt", "gear", "hot", "large", "nut", "ring", "shaft", "small"]
LANGS = ["de", "en", "es", "fr", "zh"]

US_PER_DAY = 86_400_000_000


def _money(rng, lo, hi, n):
    """2-decimal money values stored as doubles (exact under DECIMAL(12,2))."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts_days(rng, start, end, n):
    """Midnight timestamps uniform over [start, end] (numpy datetime64[D])."""
    s, e = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, int((e - s).astype(int)) + 1, n)
    return (s + days).astype("datetime64[us]")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def vocabulary(rng, n=4000):
    """Distinct lowercase pseudo-words of 3 to 9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, k)))
    return sorted(words)


def documents(rng, n):
    """`n` documents of 60-110 words. About 10% are exact copies and 20%
    near copies (one letter changed, char-5 Jaccard >= 0.95) of an earlier
    original; the rest are independent draws, far below Jaccard 0.5 of
    each other. Near copies sit well above the LSH banding's recall knee,
    so the set of kept documents does not depend on which hash collided."""
    vocab = vocabulary(rng)
    texts, originals = [], []
    for i in range(n):
        u = rng.random()
        if originals and u < 0.10:
            texts.append(texts[originals[int(rng.integers(len(originals)))]])
            continue
        if originals and u < 0.30:
            src = list(texts[originals[int(rng.integers(len(originals)))]])
            pos = int(rng.integers(len(src)))
            while src[pos] == " ":
                pos = int(rng.integers(len(src)))
            src[pos] = "#"
            texts.append("".join(src))
            continue
        k = int(rng.integers(60, 111))
        texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), k)))
        originals.append(i)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def write_documents(out_dir, seed, n):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    _write(out_dir, "documents", documents(rng, n))


def write_star_schema(out_dir, seed, scale):
    """The ten tables the SQL gates read, at `scale` (1.0 = 600k lineitems)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 11])
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n_cust)])})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    w = rng.integers(0, len(PART_WORDS), (n_part, 2))
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w]),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, n_part) / 10.0)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_ts_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_ord)])})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_ts_days(rng, "1995-01-02", "2001-11-04", n_line))})
    # distinct microsecond timestamps across January 2024 (window gates order
    # by ts and rely on it being unique per user)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.choice(30 * US_PER_DAY, n_ev, replace=False)) + start
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, n_ev // 66), n_ev)),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)]),
        "value": pa.array(_money(rng, 0.0, 560.0, n_ev)),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)])})
    docs = documents(rng, max(50, int(50_000 * scale)))
    _write(out_dir, "documents", docs)
    n_emb = max(60, int(20_000 * scale))
    emb = rng.normal(0.0, 0.12, (n_emb, 64)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})


def write_replicas(out_dir, k):
    """corpus.parquet: documents.parquet replicated `k` times, replica i with
    ids shifted by i * 10^7 and " r<i>" appended to the text, so replicas of
    a document are near duplicates and not exact ones; corpus_k1.parquet:
    replica 0 alone."""
    base = pq.read_table(os.path.join(out_dir, "documents.parquet"))
    ids = base.column("doc_id").to_numpy()
    texts = base.column("text").to_pylist()

    def replicas(n):
        return pa.table({
            "doc_id": pa.array(np.concatenate([ids + i * 10_000_000 for i in range(n)])),
            "text": pa.array([f"{t} r{i}" for i in range(n) for t in texts])})
    pq.write_table(replicas(k), os.path.join(out_dir, "corpus.parquet"))
    pq.write_table(replicas(1), os.path.join(out_dir, "corpus_k1.parquet"))
