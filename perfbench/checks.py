"""Correctness checks of each workload's outputs, computed apart from graft:
DuckDB reads the files the program wrote, and plain Python models the
catalog op sequence and the near-duplicate relation. Each check returns a
list of failure messages; an empty list means the outputs are correct."""
import os

import numpy as np

REPLICA_STRIDE = 10_000_000
SHINGLE = 5


def _pq(path):
    """read_parquet over every data file under `path` (hive layout)."""
    if os.path.isfile(path):
        return f"read_parquet('{path}')"
    return f"read_parquet('{path.rstrip('/')}/**/*.parquet', hive_partitioning = true)"


# ---- medallion_etl ---------------------------------------------------------

def medallion(con, c):
    bad = []
    b, s, g = _pq(c["bronze"]), _pq(c["silver"]), _pq(c["gold"])
    n_b, n_s = con.execute(
        f"SELECT (SELECT count(*) FROM {b} WHERE data_quality_flag <> 'duplicate_suspected'),"
        f" (SELECT count(*) FROM {s})").fetchone()
    extra = con.execute(
        f"SELECT count(*) FROM (SELECT id FROM {s} EXCEPT ALL SELECT id FROM {b} "
        f"WHERE data_quality_flag <> 'duplicate_suspected')").fetchone()[0]
    if n_s != n_b or extra:
        bad.append(f"silver has {n_s} rows, bronze minus duplicate_suspected has {n_b}; "
                   f"{extra} silver ids not in that set")
    n_gold, n_dates, missing = con.execute(
        f"SELECT (SELECT count(*) FROM {g}), (SELECT count(DISTINCT interaction_date) FROM {s}),"
        f" (SELECT count(*) FROM (SELECT DISTINCT CAST(interaction_date AS DATE) FROM {s} EXCEPT "
        f"SELECT CAST(interaction_date AS DATE) FROM {g}))").fetchone()
    if n_gold != n_dates or missing:
        bad.append(f"gold has {n_gold} rows for {n_dates} silver dates ({missing} missing)")
    tx_gold, tx_silver = con.execute(
        f"SELECT (SELECT sum(total_transactions) FROM {g}),"
        f" (SELECT count(*) FROM {s} WHERE transaction_amount > 0)").fetchone()
    if tx_gold != tx_silver:
        bad.append(f"gold total_transactions sums to {tx_gold}, silver has {tx_silver} "
                   "rows with transaction_amount > 0")
    fp = [con.execute(f"SELECT count(*), sum(hash(t)) FROM {_pq(p)} t").fetchone()
          for p in (c["bronze"], c["bronze_again"])]
    if fp[0] != fp[1]:
        bad.append(f"two bronze writes of one seed differ: {fp[0]} vs {fp[1]}")
    return bad


# ---- corpus_dedup ----------------------------------------------------------

def shingles(text):
    return {text[i:i + SHINGLE] for i in range(len(text) - SHINGLE + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 1.0


def dedup(con, c, corpus_path, sample=30, seed=0):
    bad = []
    kept = con.execute(f"SELECT doc_id, text FROM {_pq(c['kept'])}").df()
    ids = sorted(int(x) for x in kept["doc_id"])
    if ids != sorted(c["kept_k1_ids"]):
        a, b = set(ids), set(c["kept_k1_ids"])
        bad.append(f"kept ids at K differ from K=1: {len(a - b)} extra, {len(b - a)} missing")
    if any(i >= REPLICA_STRIDE for i in ids):
        bad.append("a kept doc is not from replica 0")
    n, n_md5 = con.execute(f"SELECT count(*), count(DISTINCT md5(text)) "
                           f"FROM {_pq(c['kept'])}").fetchone()
    if n != n_md5:
        bad.append(f"{n - n_md5} kept docs share a text with another kept doc")
    corpus = con.execute(f"SELECT doc_id, text FROM read_parquet('{corpus_path}')").df()
    base = corpus[corpus["doc_id"] < REPLICA_STRIDE]
    base_sh = [(int(i), t, shingles(t)) for i, t in zip(base["doc_id"], base["text"])]
    rng = np.random.default_rng(seed)
    dropped = corpus[~corpus["doc_id"].isin(set(ids))]
    for i, t in zip(*_sample(dropped, rng, sample)):
        sh = shingles(t)
        if not any(j != i and (u == t or jaccard(sh, s) >= 0.5) for j, u, s in base_sh):
            bad.append(f"dropped doc {i} has no near duplicate (char-{SHINGLE} Jaccard >= 0.5)")
    kept_sh = [(int(i), shingles(t)) for i, t in zip(kept["doc_id"], kept["text"])]
    for i, t in zip(*_sample(kept, rng, sample)):
        sh = shingles(t)
        twin = next((j for j, s in kept_sh if j != i and jaccard(sh, s) >= 0.5), None)
        if twin is not None:
            bad.append(f"kept docs {i} and {twin} are near duplicates")
    return bad


def _sample(df, rng, n):
    pick = df.iloc[rng.permutation(len(df))[:n]]
    return pick["doc_id"], pick["text"]


# ---- catalog_upserts -------------------------------------------------------

P1, P2 = 2654435761, 4294967311


def catalog_states(seed, c):
    """Replay the op sequence of CatalogUpserts.Plan on a dict id -> v;
    yields the table after each round."""
    n0, rows_a = c["catalog_rows"], c["append_rows"]
    live = {i: i * 7919 % 10007 for i in range(n0)}
    for r in range(1, c["rounds"] + 1):
        lo = n0 + (r - 1) * rows_a
        live.update((i, i * 7919 % 10007) for i in range(lo, lo + rows_a))
        step, mlo = 7 + seed % 5, (seed * 1009 + r * 7919) % n0
        new_lo = 10_000_000 + r * 100_000
        src = [mlo + j * step for j in range(c["merge_rows"])] + \
              [new_lo + j for j in range(c["merge_new_rows"])]
        live.update((i, (i * 31 + r * 17 + seed) % 10007) for i in src)
        rem = (seed + r) % c["delete_mod"]
        live = {i: v for i, v in live.items() if i % c["delete_mod"] != rem}
        yield r, live


def catalog_model(seed, c):
    """One snapshot of (count, sum v, checksum, groups, range count) per round."""
    out = []
    for r, live in catalog_states(seed, c):
        ids = np.fromiter(live.keys(), dtype=np.int64, count=len(live))
        vs = np.fromiter(live.values(), dtype=np.int64, count=len(live))
        grp = ids % 16
        groups = [[g, int((grp == g).sum()), int(vs[grp == g].sum())] for g in range(16)
                  if (grp == g).any()]
        range_lo = (seed * 31 + r * 4099) % c["catalog_rows"]
        out.append({
            "count": len(live), "sum_v": int(vs.sum()),
            "checksum": int(((ids.astype(object) * P1) % P2).sum()),
            "groups": groups,
            "range_count": int(((ids >= range_lo) & (ids <= range_lo + 20000)).sum())})
    return out


def current_data_files(table_dir):
    """Data files of the committed version: `_current` names it first."""
    with open(os.path.join(table_dir, "_current")) as f:
        version = next(line.strip() for line in f if line.strip())
    root = os.path.join(table_dir, version)
    files = []
    for d, dirs, names in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        files += [os.path.join(d, n) for n in names
                  if n.endswith(".parquet") and not n.startswith(("_", "."))]
    return sorted(files)


def catalog(con, c, seed):
    bad = []
    model = catalog_model(seed, c)
    for k, obs in enumerate(c["passes"]):
        for table in ("cow", "mor"):
            for r, (got, want) in enumerate(zip(obs[table], model), 1):
                for key in want:
                    if got[key] != want[key]:
                        bad.append(f"pass {k + 1} {table} round {r}: {key} = {got[key]}, "
                                   f"model says {want[key]}")
        if obs["cow_mor_row_diff"] != 0:
            bad.append(f"pass {k + 1}: copy-on-write and merge-on-read tables differ in "
                       f"{obs['cow_mor_row_diff']} rows")
    files = current_data_files(os.path.join(c["warehouse"], "db", "cow"))
    listing = "[" + ",".join(f"'{f}'" for f in files) + "]"
    n, sv, cs = con.execute(
        f"SELECT count(*), sum(v), sum((id::HUGEINT * {P1}) % {P2}) "
        f"FROM read_parquet({listing})").fetchone()
    want = model[-1]
    if (n, sv, cs) != (want["count"], want["sum_v"], want["checksum"]):
        bad.append(f"DuckDB over the committed copy-on-write files reads "
                   f"({n}, {sv}, {cs}), model says "
                   f"({want['count']}, {want['sum_v']}, {want['checksum']})")
    return bad


# ---- sql_queries -----------------------------------------------------------

def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def frames_equal(got, want):
    """Compare two result frames as tools/local_verify.py does: same columns,
    dtypes and rows after sorting columns by name and rows by all columns;
    exact values. Returns a failure message or None."""
    g, w = _canon(got), _canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"{len(g)} rows vs {len(w)}"
    for col in g.columns:
        a, b = g[col], w[col]
        if str(a.dtype) != str(b.dtype):
            return f"dtype of {col}: {a.dtype} vs {b.dtype}"
        if a.dtype == object:
            eq = (a.isna() & b.isna()) | (a.fillna("\0") == b.fillna("\0"))
        else:
            eq = (a.isna() & b.isna()) | (a == b)
        if not bool(eq.all()):
            i = int(np.where(~eq)[0][0])
            return f"{col} row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r}"
    return None


def sql(con, c, data_dir):
    bad = []
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    if len(c["oracle"]) != c["gates"]:
        bad.append(f"{c['gates']} gates but {len(c['oracle'])} oracles")
    for name, query in sorted(c["oracle"].items()):
        got = con.execute(f"SELECT * FROM read_parquet('{c['out']}/{name}/*.parquet')").df()
        msg = frames_equal(got, con.execute(query).df())
        if msg:
            bad.append(f"{name}: {msg}")
    return bad


def same_stages(stages_per_pass):
    """Pass hygiene, checked: with no state carried from one pass to the
    next, every timed pass runs the same number of Spark stages."""
    if len(set(stages_per_pass)) > 1:
        return [f"timed passes ran different numbers of Spark stages: {stages_per_pass}"]
    return []
