"""Seeded input generator for the perfbench workloads.

Everything the benchmark feeds the engine comes from here, and only from a
seed: the star-schema tables, documents and embeddings the query families
read, the replicated curation corpus, the analytics draw and the lakehouse
op stream together with the model of the tables it builds. One seed always
gives byte-identical files and op lists (numpy's PCG64 stream and pyarrow's
writer are both deterministic); two seeds give different ones.

The table shapes follow the fixed-seed testdata the engine's query families
were written against: the same column names and physical types, the same
value domains (vocabulary, segments, brands, event types, 64-d unit
embeddings) and the same planted duplicates (exact copies and " dup"
near-copies of earlier documents).
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DOC_ID_REPLICA_OFFSET = 10_000_000  # graft.ScaleCorpus's per-replica offset
EMB_DIM = 64


def _rng(seed, *salt):
    return np.random.default_rng([int(seed)] + [int(s) for s in salt])


def _ts(rng, n, lo, hi):
    """Uniform microsecond timestamps in [lo, hi)."""
    a = np.datetime64(lo, "us").astype(np.int64)
    b = np.datetime64(hi, "us").astype(np.int64)
    return pa.array(rng.integers(a, b, n), pa.timestamp("us"))


def _day_ts(rng, n, lo, hi):
    """Uniform midnight timestamps in [lo, hi)."""
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    days = rng.integers(a, b, n).astype(np.int64)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    """`n` documents: uniform vocabulary text, 5 % near-copies of an earlier
    document with " dup" appended, a few exact copies."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[src[i]]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _emb_array(x):
    x = x.astype(np.float32)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, x.size + 1, x.shape[1]), pa.int32())
    return pa.ListArray.from_arrays(offsets, flat)


def _unit(x):
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def embeddings(rng, n):
    x = _unit(rng.standard_normal((n, EMB_DIM)))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": _emb_array(x),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }), x


def tables(seed, sf):
    """Every table of one scale factor (sf 0.1 ≈ 600k lineitem rows)."""
    r = lambda i: _rng(seed, 1, i)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    g = r(2)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(g, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(g.choice(SEGMENTS, n_cust), pa.string())})
    g = r(3)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(g, n_supp, -999.99, 9999.99))})
    g = r(4)
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in g.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(g.choice(PTYPES, n_part), pa.string()),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2))})
    g = r(5)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(g.choice(["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(_money(g, n_ord, 1000.0, 500000.0)),
        "o_orderdate": _day_ts(g, n_ord, "1995-01-01", "2001-08-02"),
        "o_orderpriority": pa.array(g.choice(PRIORITIES, n_ord), pa.string())})
    g = r(6)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(g.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(g.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(g, n_line, 900.0, 105000.0)),
        "l_discount": pa.array(g.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(g.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(g.choice(["A", "N", "R"], n_line), pa.string()),
        "l_linestatus": pa.array(g.choice(["F", "O"], n_line), pa.string()),
        "l_shipdate": _day_ts(g, n_line, "1995-01-02", "2001-11-05")})
    g = r(7)
    ts = np.sort(_ts(g, n_ev, "2024-01-01", "2024-01-31").to_numpy())
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, max(int(15_000 * sf), 50), n_ev), pa.int64()),
        "event_type": pa.array(g.choice(EVENT_TYPES, n_ev), pa.string()),
        "value": pa.array(np.round(g.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)], pa.string())})
    out["documents"] = documents(r(8), n_doc)
    out["embeddings"] = embeddings(r(9), n_emb)[0]
    return out


def curation_corpus(seed, base_docs, base_embs, k):
    """`k` replicas of the sf documents and embeddings. Replica i > 0 shifts
    ids by i * 10^7 and carries seeded edits — about one word in ten
    replaced, and N(0, 0.05) embedding noise — so exact dedup cannot collapse
    the corpus back to one replica and every later stage does k-fold work."""
    docs = base_docs.to_pydict()
    embs = base_embs.to_pydict()
    x0 = np.array(embs["embedding"], dtype=np.float64)
    d_out = {c: [] for c in docs}
    e_out = {"vec_id": [], "label": [], "embedding": []}
    for i in range(k):
        g = _rng(seed, 2, i)
        for j, text in enumerate(docs["text"]):
            words = text.split(" ")
            if i > 0:
                edit = g.random(len(words)) < 0.1
                repl = g.integers(0, len(VOCAB), len(words))
                words = [VOCAB[repl[w]] if edit[w] else words[w] for w in range(len(words))]
            t = " ".join(words)
            d_out["doc_id"].append(docs["doc_id"][j] + i * DOC_ID_REPLICA_OFFSET)
            d_out["text"].append(t)
            d_out["lang"].append(docs["lang"][j])
            d_out["source"].append(docs["source"][j])
            d_out["n_chars"].append(len(t))
        x = x0 if i == 0 else _unit(x0 + g.normal(0.0, 0.05, x0.shape))
        e_out["vec_id"].extend((np.array(embs["vec_id"]) + i * DOC_ID_REPLICA_OFFSET).tolist())
        e_out["label"].extend(embs["label"])
        e_out["embedding"].append(x)
    d = pa.table({
        "doc_id": pa.array(d_out["doc_id"], pa.int64()),
        "text": pa.array(d_out["text"], pa.string()),
        "lang": pa.array(d_out["lang"], pa.string()),
        "source": pa.array(d_out["source"], pa.string()),
        "n_chars": pa.array(d_out["n_chars"], pa.int64())})
    e = pa.table({
        "vec_id": pa.array(e_out["vec_id"], pa.int64()),
        "embedding": _emb_array(np.vstack(e_out["embedding"])),
        "label": pa.array(e_out["label"], pa.int32())})
    return d, e


def write_tables(out_dir, tabs):
    """One parquet file per table; returns {name: [rows, bytes]}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tabs.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=1 << 20)
        sizes[name] = [t.num_rows, os.path.getsize(path)]
    return sizes


def fingerprint(path):
    """sha256 over every file's relative name and bytes under `path`."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# ---------------------------------------------------------------- analytics

def analytics_draw(seed, pool, n):
    """`n` query names in shuffled rounds: each round is a seeded permutation
    of the whole pool, so every seed runs the same mix in a different order
    and a run's throughput does not depend on which queries the seed favoured."""
    g = _rng(seed, 3)
    pool = sorted(pool)
    out = []
    while len(out) < n:
        out.extend(pool[i] for i in g.permutation(len(pool)))
    return out[:n]


# ---------------------------------------------------------------- lakehouse

SHARDS = 16


def body(doc_id, salt):
    """The row body every writer derives from (doc_id, salt): the md5 hex of
    "<doc_id>:<salt>" plus (doc_id + salt) % 7 trailing 'x's. The Scala
    harness computes the same string in Spark SQL."""
    return hashlib.md5(f"{doc_id}:{salt}".encode()).hexdigest() + "x" * ((doc_id + salt) % 7)


def row_bytes(doc_id, b):
    """Bytes of one row as a single TSV line (doc_id, shard, body)."""
    return len(str(doc_id)) + len(str(doc_id % SHARDS)) + len(b) + 3


class LakeModel:
    """The generator's own model of one lakehouse table: doc_id -> body, with
    per-shard [count, sum, xor, summed body length] kept up to date."""

    def __init__(self):
        self.rows = {}
        self.live_bytes = 0
        self.shards = {}

    def _acc(self, k, b, sign):
        a = self.shards.setdefault(k % SHARDS, [0, 0, 0, 0])
        a[0] += sign
        a[1] += sign * k
        a[2] ^= k
        a[3] += sign * len(b)
        self.live_bytes += sign * row_bytes(k, b)

    def put(self, k, b):
        if k in self.rows:
            self._acc(k, self.rows[k], -1)
        self.rows[k] = b
        self._acc(k, b, 1)

    def drop(self, k):
        self._acc(k, self.rows.pop(k), -1)

    def agg(self):
        a = [0, 0, 0, 0]
        for v in self.shards.values():
            a = [a[0] + v[0], a[1] + v[1], a[2] ^ v[2], a[3] + v[3]]
        return a

    def by_shard(self):
        return [[sh] + self.shards[sh] for sh in sorted(self.shards) if self.shards[sh][0]]

    def range_agg(self, lo, hi):
        n = s = x = ln = 0
        for k in range(lo, hi):
            b = self.rows.get(k)
            if b is not None:
                n, s, x, ln = n + 1, s + k, x ^ k, ln + len(b)
        return [n, s, x, ln]


# One maintenance cycle of the op stream. Every write is followed by a read
# of the version it committed, so each committed version is checked.
CYCLE = [
    "append:cow", "version:cow", "point:cow",
    "append:mor", "version:mor", "range:mor",
    "merge:cow", "version:cow", "groupby:mor",
    "stream:cow", "version:cow", "range:cow",
    "delete:mor", "version:mor", "point:mor",
    "merge:mor", "version:mor", "meta:cow",
    "delete:cow", "version:cow", "groupby:mor",
    "stream:cow", "version:cow", "point:cow",
    "append:mor", "version:mor", "range:mor",
    "append:cow", "version:cow", "meta:mor",
    "refresh:mor", "mvread:mor",
    "maintain:both",
]
# The set-up warm-up: one op of every kind, on a throwaway lakehouse.
WARM_CYCLE = [
    "append:cow", "version:cow", "point:cow", "range:cow", "merge:cow", "meta:cow",
    "stream:cow", "delete:cow", "append:mor", "delete:mor", "merge:mor", "groupby:mor",
    "refresh:mor", "mvread:mor", "maintain:both",
]
WRITES = {"append", "stream", "merge", "delete", "refresh"}
READS = {"point", "range", "version", "meta", "groupby", "mvread"}


def lake_stream(seed, n_cycles, batch_rows, initial_rows, cycle=None):
    """The lake_churn op stream and the expected result of every read.

    Keys live in a window that slides forward: appends add fresh ids at the
    head, MERGEs rewrite bodies inside the window and insert a few ids past
    the head, and each delete trims the tail back to the newest
    `initial_rows` ids (plus one shard's ids just above the tail), so the
    live row count stays level and compaction plus vacuum can level the
    files off."""
    g = _rng(seed, 4)
    models = {"cow": LakeModel(), "mor": LakeModel()}
    head = {"cow": initial_rows, "mor": initial_rows}
    tail = {"cow": 0, "mor": 0}
    salt_ctr = [1]
    ops = []

    def salt():
        salt_ctr[0] += int(g.integers(1, 1000))
        return salt_ctr[0]

    init_salt = salt()
    for t in ("cow", "mor"):
        for k in range(initial_rows):
            models[t].put(k, body(k, init_salt))
    mv_expect = None
    for c in range(n_cycles):
        for step in cycle or CYCLE:
            kind, t = step.split(":")
            m = models.get(t)
            op = {"kind": kind, "table": t, "cycle": c}
            if kind in ("append", "stream"):
                lo, hi, s = head[t], head[t] + batch_rows, salt()
                for k in range(lo, hi):
                    m.put(k, body(k, s))
                head[t] = hi
                op.update(lo=lo, hi=hi, salt=s, rows=hi - lo, user_bytes=sum(
                    row_bytes(k, m.rows[k]) for k in range(lo, hi)))
            elif kind == "merge":
                # every 3rd id of a window inside the live range (matched ids
                # are rewritten, ids a shard delete removed are re-inserted)
                # plus a few fresh ids past the head
                width = batch_rows * 3
                lo = int(g.integers(tail[t], max(tail[t] + 1, head[t] - width)))
                s = salt()
                ins_lo, ins_hi = head[t], head[t] + batch_rows // 4
                ids = list(range(lo, lo + width, 3)) + list(range(ins_lo, ins_hi))
                for k in ids:
                    m.put(k, body(k, s))
                head[t] = ins_hi
                op.update(lo=lo, hi=lo + width, step=3, ins_lo=ins_lo, ins_hi=ins_hi, salt=s,
                          rows=len(ids), user_bytes=sum(row_bytes(k, m.rows[k]) for k in ids))
            elif kind == "delete":
                lo, hi = tail[t], max(tail[t], head[t] - initial_rows)
                shard = int(g.integers(0, SHARDS))
                gone = [k for k in range(lo, hi) if k in m.rows] + [
                    k for k in range(hi, hi + batch_rows) if k % SHARDS == shard and k in m.rows]
                for k in gone:
                    m.drop(k)
                tail[t] = hi
                op.update(lo=lo, hi=hi, shard=shard, shard_hi=hi + batch_rows, rows=len(gone),
                          user_bytes=0)
            elif kind == "point":
                keys = sorted({int(k) for k in g.integers(tail[t], head[t], 4)})
                op.update(keys=keys, expect=sorted([k, m.rows[k]] for k in keys if k in m.rows))
            elif kind == "range":
                lo = int(g.integers(tail[t], max(tail[t] + 1, head[t] - batch_rows)))
                op.update(lo=lo, hi=lo + batch_rows, expect=m.range_agg(lo, lo + batch_rows))
            elif kind == "version":
                # the harness reads the version the table's last write committed
                op.update(expect=m.agg())
            elif kind == "meta":
                op.update(expect=m.agg()[0])
            elif kind == "groupby":
                op.update(expect=m.by_shard())
            elif kind == "refresh":
                mv_expect = m.by_shard()
            elif kind == "mvread":
                op.update(expect=mv_expect)
            op["live_bytes"] = models["cow"].live_bytes + models["mor"].live_bytes
            ops.append(op)
    return {"initial_rows": initial_rows, "initial_salt": init_salt, "ops": ops}


def dump(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))
