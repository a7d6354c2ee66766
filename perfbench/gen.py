"""Seeded input generator for the benchmark workloads.

The same (workload, seed) always gives byte-identical parquet files. The
tables have the schemas of the engine's star-schema test data (TPC-H-ish
tables, `events`, `documents`, `embeddings`). A base copy is drawn from the
seed, then replicated ScaleSmoke-style:

* every key family of copy k is shifted by k * 10**9, so foreign keys stay
  aligned across copies;
* every token of a copy-k document (k > 0) gets a per-copy suffix drawn from
  the seed, so copies share no shingles;
* copy-k embeddings get a seeded per-copy jitter.

The seed also draws the row order of every table and the near-duplicate
picks (a document whose text is an earlier document's text plus " dup").

The stream workload's files are written to a staging directory; the harness
moves them into the watched directory on its schedule.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OFF = 1_000_000_000
VOCAB = ("a the batch column scan table row key value group agg join merge "
         "sort filter window stream spark data query vector hash order line "
         "part customer small big fast slow").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PTYPES = np.array(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"])
ADJ = ["small", "red", "blue", "hot", "cold", "old", "large", "shiny"]
NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "anvil", "gizmo"]
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Base-copy row counts (the engine's sf0.01 shape) and copies per workload.
BASE = dict(customer=1500, supplier=100, part=2000, orders=15000,
            lineitem=60000, events=10000, documents=500, embeddings=500)
COPIES = {"lifecycle_jobs": 2}

# Open-loop stream: files per second, docs per file, near-duplicate share.
STREAM_RATE = 2
STREAM_DOCS_PER_FILE = 250
NEAR_DUP_SHARE = 0.05
# Event time is one second per doc id; the band state keeps a doc for
# the horizon. A stream near-duplicate copies one of the previous
# STREAM_HORIZON_S docs, so its pair is always within reach of the state.
STREAM_HORIZON_S = 500
STREAM_WARM_FILES = 4

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 in microseconds


def _docs_text(rng, n, near_dup_share, window=None):
    """Random texts over VOCAB; a seeded share copies an earlier text + " dup"
    (one of the previous `window` texts, or any earlier one)."""
    lens = rng.integers(10, 101, size=n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in lens]
    n_dup = int(round(n * near_dup_share))
    for i in sorted(rng.choice(np.arange(1, n), size=n_dup, replace=False)):
        lo = 0 if window is None else max(0, i - window)
        texts[i] = texts[int(rng.integers(lo, i))] + " dup"
    return texts


def base_tables(rng):
    """One copy of every table, as dict name -> dict of numpy columns."""
    t = {}
    t["region"] = dict(r_regionkey=np.arange(5, dtype=np.int32), r_name=np.array(REGIONS))
    t["nation"] = dict(n_nationkey=np.arange(25, dtype=np.int32),
                       n_name=np.array([f"NATION_{i}" for i in range(25)]),
                       n_regionkey=(np.arange(25) % 5).astype(np.int32))
    n = BASE["customer"]
    t["customer"] = dict(
        c_custkey=np.arange(n, dtype=np.int64),
        c_name=np.array([f"Customer#{i:09d}" for i in range(n)]),
        c_nationkey=rng.integers(0, 25, n).astype(np.int32),
        c_acctbal=np.round(rng.uniform(-999.99, 9999.99, n), 2),
        c_mktsegment=SEGMENTS[rng.integers(0, 5, n)])
    n = BASE["supplier"]
    t["supplier"] = dict(
        s_suppkey=np.arange(n, dtype=np.int64),
        s_name=np.array([f"Supplier#{i:09d}" for i in range(n)]),
        s_nationkey=rng.integers(0, 25, n).astype(np.int32),
        s_acctbal=np.round(rng.uniform(-999.99, 9999.99, n), 2))
    n = BASE["part"]
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    t["part"] = dict(
        p_partkey=np.arange(n, dtype=np.int64),
        p_name=names[rng.integers(0, len(names), n)],
        p_brand=np.array([f"Brand#{i}" for i in rng.integers(1, 26, n)]),
        p_type=PTYPES[rng.integers(0, len(PTYPES), n)],
        p_size=rng.integers(1, 51, n).astype(np.int32),
        p_retailprice=np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2))
    n = BASE["orders"]
    t["orders"] = dict(
        o_orderkey=np.arange(n, dtype=np.int64),
        o_custkey=rng.integers(0, BASE["customer"], n).astype(np.int64),
        o_orderstatus=np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        o_totalprice=np.round(rng.uniform(1000.0, 500000.0, n), 2),
        o_orderdate=EPOCH_1995 + rng.integers(0, 2404, n) * US_PER_DAY,
        o_orderpriority=PRIORITIES[rng.integers(0, 5, n)])
    n = BASE["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = dict(
        l_orderkey=rng.integers(0, BASE["orders"], n).astype(np.int64),
        l_partkey=rng.integers(0, BASE["part"], n).astype(np.int64),
        l_suppkey=rng.integers(0, BASE["supplier"], n).astype(np.int64),
        l_linenumber=rng.integers(1, 8, n).astype(np.int32),
        l_quantity=qty,
        l_extendedprice=np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        l_discount=rng.integers(0, 11, n) / 100.0,
        l_tax=rng.integers(0, 9, n) / 100.0,
        l_returnflag=np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        l_linestatus=np.array(["F", "O"])[rng.integers(0, 2, n)],
        l_shipdate=EPOCH_1995 + rng.integers(0, 2500, n) * US_PER_DAY)
    n = BASE["events"]
    t["events"] = dict(
        event_id=np.arange(n, dtype=np.int64),
        ts=EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, n)),
        user_id=rng.integers(0, n * 3 // 200, n).astype(np.int64),
        event_type=EVENT_TYPES[rng.integers(0, 5, n)],
        value=np.round(rng.exponential(50.0, n), 2),
        props=np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]))
    n = BASE["documents"]
    texts = _docs_text(rng, n, NEAR_DUP_SHARE)
    t["documents"] = dict(
        doc_id=np.arange(n, dtype=np.int64), text=np.array(texts, dtype=object),
        lang=LANGS[rng.choice(5, size=n, p=LANG_P)],
        source=np.array([f"src{i % 20}" for i in range(n)]),
        n_chars=np.array([len(x) for x in texts], dtype=np.int64))
    n = BASE["embeddings"]
    label = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.1, (10, 64))
    emb = (centers[label] + rng.normal(0.0, 0.08, (n, 64))).astype(np.float32)
    t["embeddings"] = dict(vec_id=np.arange(n, dtype=np.int64), embedding=emb, label=label)
    return t


KEYS = dict(customer=["c_custkey"], supplier=["s_suppkey"], part=["p_partkey"],
            orders=["o_orderkey", "o_custkey"],
            lineitem=["l_orderkey", "l_partkey", "l_suppkey"],
            events=["event_id", "user_id"], documents=["doc_id"], embeddings=["vec_id"])


def scale_up(rng, base, copies):
    """ScaleSmoke's replication: key stride, per-copy token suffix, jitter."""
    suffixes = ["".join(chr(97 + c) for c in rng.integers(0, 26, 3)) for _ in range(copies)]
    jitter = rng.uniform(-0.002, 0.002, copies).astype(np.float32)
    out = {}
    for name, cols in base.items():
        if name in ("region", "nation"):
            out[name] = cols
            continue
        parts = []
        for k in range(copies):
            c = dict(cols)
            for key in KEYS[name]:
                c[key] = cols[key] + np.int64(k) * OFF
            if name == "documents" and k > 0:
                sfx = "c" + suffixes[k]
                c["text"] = np.array([" ".join(w + sfx for w in x.split(" "))
                                      for x in cols["text"]], dtype=object)
                c["n_chars"] = np.array([len(x) for x in c["text"]], dtype=np.int64)
            if name == "embeddings" and k > 0:
                c["embedding"] = cols["embedding"] + jitter[k]
            parts.append(c)
        out[name] = {col: np.concatenate([p[col] for p in parts]) for col in cols}
    return out


def to_arrow(cols, order):
    arrays, names = [], []
    for col, v in cols.items():
        v = v[order]
        if col in ("o_orderdate", "l_shipdate", "ts"):
            arr = pa.array(v, type=pa.timestamp("us"))
        elif col == "embedding":
            arr = pa.FixedSizeListArray.from_arrays(pa.array(v.reshape(-1)), 64).cast(
                pa.list_(pa.float32()))
        elif v.dtype == object or v.dtype.kind == "U":
            arr = pa.array(v.tolist(), type=pa.string())
        else:
            arr = pa.array(v)
        arrays.append(arr)
        names.append(col)
    return pa.Table.from_arrays(arrays, names=names)


def write_table(path, table, n_files):
    os.makedirs(path, exist_ok=True)
    rows = table.num_rows
    step = -(-rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def gen_batch(out_dir, workload, seed):
    rng = np.random.default_rng([seed, 1])
    tables = scale_up(rng, base_tables(rng), COPIES[workload])
    for name in TABLES:
        cols = tables[name]
        n = len(next(iter(cols.values())))
        order = rng.permutation(n)
        n_files = 1 if n < 5000 else 4
        write_table(os.path.join(out_dir, f"{name}.parquet"), to_arrow(cols, order), n_files)


def stream_files(seconds):
    return STREAM_RATE * seconds


def gen_stream(out_dir, seed, seconds):
    """Staged documents files for the open loop, plus warm-up files.

    Near-duplicates point at one of the previous STREAM_HORIZON_S
    documents, so matches cross micro-batch boundaries and exercise the
    per-band state.
    """
    rng = np.random.default_rng([seed, 2])
    n_files = stream_files(seconds)
    n = (n_files + STREAM_WARM_FILES) * STREAM_DOCS_PER_FILE
    texts = _docs_text(rng, n, NEAR_DUP_SHARE, window=STREAM_HORIZON_S)
    doc = dict(doc_id=np.arange(n, dtype=np.int64), text=np.array(texts, dtype=object),
               lang=LANGS[rng.choice(5, size=n, p=LANG_P)],
               source=np.array([f"src{i % 20}" for i in range(n)]),
               n_chars=np.array([len(x) for x in texts], dtype=np.int64))
    staged = os.path.join(out_dir, "staged")
    warm = os.path.join(out_dir, "warm")
    os.makedirs(staged, exist_ok=True)
    os.makedirs(warm, exist_ok=True)
    # the warm-up files hold the FIRST doc ids: one of them primes each
    # measured query, and its docs must come before the run's in event time
    for f in range(STREAM_WARM_FILES + n_files):
        idx = np.arange(f * STREAM_DOCS_PER_FILE, (f + 1) * STREAM_DOCS_PER_FILE)
        order = idx[rng.permutation(len(idx))]
        t = to_arrow(doc, order)
        if f < STREAM_WARM_FILES:
            pq.write_table(t, os.path.join(warm, f"part-{f:05d}.parquet"))
        else:
            pq.write_table(t, os.path.join(staged, f"part-{f:05d}.parquet"))


def version():
    """Changes whenever this generator does, so cached inputs are redone."""
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def generate(out_dir, workload, seed, seconds):
    """Write the workload's inputs under out_dir unless already complete."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return False
    if workload == "stream_dedup_openloop":
        gen_stream(out_dir, seed, seconds)
    else:
        gen_batch(out_dir, workload, seed)
    open(done, "w").close()
    return True
