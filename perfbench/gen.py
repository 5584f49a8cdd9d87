"""Seeded generator for the benchmark's input tables.

Writes the ten tables the program reads (`region nation customer supplier
part orders lineitem events documents embeddings`), one parquet file each,
with the schemas and value domains the query modules expect (see the
repository's FIXTURES.md). The same seed and sizes give byte-identical
tables, so a run's inputs are fixed by its `--seed` alone.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
DIM = 64

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n, first_id=0):
    """Word-soup documents; one in twenty is a near-copy of an earlier one
    (the source text plus a trailing ` dup`), so dedup has real work."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), lengths.sum())
    texts, at = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    for i in range(1, n):
        if rng.random() < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, first_id=0):
    """Unit-norm float vectors of dimension 64 with a label in 0..9."""
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def tables(seed, sf, docs=None, vecs=None):
    """All ten tables at scale factor `sf`; `docs`/`vecs` override the
    documents/embeddings row counts."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_events = max(10, int(1_000_000 * sf))
    n_docs = docs if docs is not None else max(10, int(50_000 * sf))
    n_vecs = vecs if vecs is not None else max(10, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(STATUSES, n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    n_li = 4 * n_ord
    lok = rng.integers(0, n_ord, n_li).astype(np.int64)
    lok.sort()
    # line numbers count up within each order, capped at 7
    starts = np.r_[0, np.flatnonzero(np.diff(lok)) + 1]
    runs = np.diff(np.r_[starts, n_li])
    lnum = (np.arange(n_li) - np.repeat(starts, runs)) % 7 + 1
    perm = rng.permutation(n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": lok[perm],
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum[perm].astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(0, 2500, n_li) * DAY_US)})
    ets = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_events))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(ets),
        "user_id": rng.integers(0, max(10, n_events // 66), n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    out["documents"] = documents(rng, n_docs)
    out["embeddings"] = embeddings(rng, n_vecs)
    return out


def write(out_dir, seed, sf, docs=None, vecs=None):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf, docs, vecs).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ---- index-lifecycle inputs -------------------------------------------

# The closed-loop script: each lifecycle step, in the only order the
# index contracts allow (forget before compaction, merge and retrain
# last), after one search of every family over the grown indexes. The
# seed draws the family order inside each phase and of the searches, and
# the searches' query groups; the steps are the same for every seed.
# Search after compaction, merge and retrain is exercised by the checks.
PHASES = [
    ["dedup.forget", "text.postings.forget", "sim.ivf.delete"],
    ["dedup.compact_tiered", "text.postings.compact_tiered", "sim.ivf.compact_tiered"],
    ["dedup.compact", "text.postings.compact", "sim.ivf.compact"],
    ["text.postings.merge", "sim.ivf.retrain"],
]
SEARCHES = ["dedup.flag", "text.postings.search", "sim.ivf.search"]
SHARD_B_FIRST_ID = 10_000_000
PROBE_FIRST_ID = 20_000_000
QUERY_VEC_FIRST_ID = 1_000_000_000


def life(out_dir, seed, n_docs, n_vecs, segments, interval_s, groups=4,
         per_group=5, base_share=0.85):
    """Base tables, arrival segments, query sets, forget/delete sets and
    the closed-loop script of one index-lifecycle round."""
    rng = np.random.default_rng(seed)
    docs = documents(rng, n_docs).select(["doc_id", "text"])
    vecs = embeddings(rng, n_vecs).select(["vec_id", "embedding"])
    shard_b = documents(rng, max(10, n_docs // 8), SHARD_B_FIRST_ID).select(
        ["doc_id", "text"])
    os.makedirs(os.path.join(out_dir, "segments", "docs"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "segments", "vecs"), exist_ok=True)

    def put(name, t):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))

    # segment membership: a seeded `base_share` of each table is the base,
    # the rest is dealt round-robin, in seeded order, into the segments.
    # Admitted extents stay under the tiered-compaction threshold (20% of
    # the base), so compactTiered takes its tiered path.
    def split(t, name):
        perm = rng.permutation(t.num_rows)
        cut = int(t.num_rows * base_share)
        base, rest = np.sort(perm[:cut]), perm[cut:]
        put(f"base_{name}", t.take(base))
        for i in range(segments):
            pq.write_table(t.take(np.sort(rest[i::segments])), os.path.join(
                out_dir, "segments", name, f"seg_{i:05d}.parquet"))
        return t.column(0).to_numpy()[base], t.column(0).to_numpy()

    base_doc_ids, all_doc_ids = split(docs, "docs")
    _, all_vec_ids = split(vecs, "vecs")
    put("shard_b", shard_b)

    n_q = groups * per_group
    texts = docs.column("text").to_pylist()
    qrows = {"grp": [], "qid": [], "tok": []}
    for q in range(n_q):
        words = texts[int(rng.integers(0, len(texts)))].split()
        for tok in list(dict.fromkeys(words))[:4]:
            qrows["grp"].append(q // per_group)
            qrows["qid"].append(q)
            qrows["tok"].append(tok)
    put("tok_queries", pa.table({
        "grp": pa.array(qrows["grp"], pa.int32()),
        "qid": pa.array(qrows["qid"], pa.int64()), "tok": qrows["tok"]}))
    qv = embeddings(rng, n_q, QUERY_VEC_FIRST_ID)
    put("vec_queries", pa.table({
        "grp": (np.arange(n_q) // per_group).astype(np.int32),
        "vec_id": qv.column("vec_id"), "embedding": qv.column("embedding")}))
    # flag probes: near-copies of indexed documents plus fresh ones
    fresh = documents(rng, n_q, PROBE_FIRST_ID)
    ptexts = [texts[int(rng.integers(0, len(texts)))] + " probe" if q % 2 == 0
              else fresh.column("text")[q].as_py() for q in range(n_q)]
    put("probes", pa.table({
        "grp": (np.arange(n_q) // per_group).astype(np.int32),
        "doc_id": np.arange(PROBE_FIRST_ID, PROBE_FIRST_ID + n_q, dtype=np.int64),
        "text": ptexts}))

    def pick(ids, share):
        k = max(1, int(len(ids) * share))
        return np.sort(rng.choice(ids, k, replace=False)).astype(np.int64)

    put("dedup_forget", pa.table({"doc_id": pick(base_doc_ids, 0.03)}))
    put("post_forget", pa.table({"doc_id": pick(all_doc_ids, 0.03)}))
    put("ivf_delete", pa.table({"vec_id": pick(all_vec_ids, 0.03)}))

    def searches():
        return [{"step": str(f), "g": int(rng.integers(0, groups))}
                for f in rng.permutation(SEARCHES)]

    ops = searches()
    for phase in PHASES:
        ops += [{"step": str(step), "g": 0} for step in rng.permutation(phase)]
    user_bytes = (sum(len(t.encode()) + 8 for t in texts)
                  + sum(len(t.encode()) + 8 for t in shard_b.column("text").to_pylist())
                  + n_vecs * (8 + 4 * DIM))
    with open(os.path.join(out_dir, "script.json"), "w") as f:
        json.dump({"segments": segments, "interval_s": interval_s,
                   "user_bytes": user_bytes, "ops": ops}, f, indent=1)
