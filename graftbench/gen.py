"""Seeded input generators for the graft benchmark.

Every input the program sees is made here from the run's seed: the same
seed gives byte-identical files, another seed gives other contents with
the same sizes and shape, so run-to-run timing differences come from the
program, not from the data.

Three input sets:

* LLM tables (`documents`, `orders`, `lineitem`), written as
  multi-file parquet directories that `graft.sources.Tables` and DuckDB
  both read.
* Stream files: event files of (ts, k, v) with bounded disorder, a fixed
  number of far-late events in every file after the first, and a flush
  file whose single sentinel event closes every real window.
* Table files: one initial load of the whole key space plus change files
  of upserts and deletes over it, with repeated keys inside a batch.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- LLM tables ---------------------------------------------------------

N_DOCS = 600
DOC_FILES = 4
N_ORDERS = 2000
N_CUST = 300
N_SUPP = 20
GRAPH_FILES = 2
LANGS = ["en", "de", "fr", "es", "zh"]
STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is"]
QUERY_WORDS = ["join", "hash", "window"]


def vocabulary():
    """A fixed 400-word ASCII vocabulary (the same for every seed)."""
    rng = random.Random(1234567)
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    words = set(STOPWORDS + QUERY_WORDS)
    out = list(STOPWORDS + QUERY_WORDS)
    while len(out) < 400:
        w = "".join(rng.choice(cons) + rng.choice(vows)
                    for _ in range(rng.randint(2, 3)))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def documents(seed):
    """Rows (doc_id, text, lang, source, n_chars).

    One doc in eight is a near-copy of an earlier doc (3% of tokens
    replaced), one in eight carries a 24-token span copied from an
    earlier doc; the rest are fresh Zipf-weighted text with a per-language
    tilt so the language classifier has signal."""
    rng = random.Random(seed * 7919 + 1)
    vocab = vocabulary()
    base_w = [1.0 / (r + 1) for r in range(len(vocab))]
    tilt = {}
    for li, lang in enumerate(LANGS):
        w = list(base_w)
        for j in range(60):
            w[11 + li * 60 + j] *= 6.0
        tilt[lang] = w
    toks_by_doc, rows = [], []
    for i in range(N_DOCS):
        lang = LANGS[i % len(LANGS)] if i % 3 else rng.choice(LANGS)
        kind = i % 8
        if kind == 7 and i > 8:
            src = toks_by_doc[rng.randrange(i)]
            toks = [rng.choice(vocab) if rng.random() < 0.03 else t for t in src]
        else:
            n = rng.randint(30, 90)
            toks = rng.choices(vocab, weights=tilt[lang], k=n)
            if kind == 3 and i > 8:
                src = toks_by_doc[rng.randrange(i)]
                if len(src) >= 24:
                    s = rng.randrange(len(src) - 23)
                    at = rng.randrange(len(toks) + 1)
                    toks = toks[:at] + src[s:s + 24] + toks[at:]
        toks_by_doc.append(toks)
        text = " ".join(toks)
        rows.append((i, text, lang, "src%d" % (i % 10), len(text)))
    return rows


def graph(seed):
    """orders(o_orderkey, o_custkey), lineitem(l_orderkey, l_suppkey):
    the customer-supplier trade graph PageRank runs on."""
    g = np.random.default_rng(seed * 131 + 7)
    okeys = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    cust = g.integers(1, N_CUST + 1, size=N_ORDERS).astype(np.int64)
    lines = g.integers(1, 6, size=N_ORDERS)
    l_ok = np.repeat(okeys, lines)
    supp = g.integers(1, N_SUPP + 1, size=len(l_ok)).astype(np.int64)
    return (okeys, cust), (l_ok, supp)


def _write_split(table, path, nfiles):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for f in range(nfiles):
        lo, hi = n * f // nfiles, n * (f + 1) // nfiles
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, "part-%05d.parquet" % f))


def write_llm_tables(seed, out_dir):
    docs = documents(seed)
    cols = list(zip(*docs))
    _write_split(pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"), DOC_FILES)
    (okeys, cust), (l_ok, supp) = graph(seed)
    _write_split(pa.table({"o_orderkey": okeys, "o_custkey": cust}),
                 os.path.join(out_dir, "orders.parquet"), GRAPH_FILES)
    _write_split(pa.table({"l_orderkey": l_ok, "l_suppkey": supp}),
                 os.path.join(out_dir, "lineitem.parquet"), GRAPH_FILES)


# ---- stream events --------------------------------------------------------

EVENTS_PER_FILE = 4000
LATE_PER_FILE = 40
STREAM_KEYS = 64
FILE_SPAN_S = 20          # event time covered by one file
DISORDER_S = 2            # an on-time event may precede its file's span by this much
WINDOW_S = 10
WATERMARK_S = 5
T0_US = 1_700_000_000_000_000   # event-time origin, a multiple of WINDOW_S
SENTINEL_KEY = -1
STREAM_SCHEMA = pa.schema([("ts", pa.timestamp("us", tz="UTC")),
                           ("k", pa.int32()), ("v", pa.int64())])


def stream_file(seed, i):
    """File i as numpy arrays (ts_us, k, v, late_mask).

    On-time events fall in [span_start - DISORDER_S, span_end); the
    watermark delay exceeds the disorder, so none of them is ever late.
    From file 1 on, LATE_PER_FILE events sit in the first second of the
    stream, whose window the watermark closed after file 0."""
    g = np.random.default_rng([seed, 17, i])
    lo = T0_US + i * FILE_SPAN_S * 1_000_000
    on = EVENTS_PER_FILE - (LATE_PER_FILE if i > 0 else 0)
    ts = g.integers(max(T0_US, lo - DISORDER_S * 1_000_000),
                    lo + FILE_SPAN_S * 1_000_000, size=on)
    late = np.zeros(on, dtype=bool)
    if i > 0:
        ts = np.concatenate([ts, g.integers(T0_US, T0_US + 1_000_000, size=LATE_PER_FILE)])
        late = np.concatenate([late, np.ones(LATE_PER_FILE, dtype=bool)])
    k = g.integers(0, STREAM_KEYS, size=EVENTS_PER_FILE).astype(np.int32)
    v = g.integers(0, 1000, size=EVENTS_PER_FILE).astype(np.int64)
    order = g.permutation(EVENTS_PER_FILE)
    return ts[order], k[order], v[order], late[order]


def flush_event(n_files):
    """The sentinel that closes every window of files [0, n_files)."""
    return T0_US + (n_files * FILE_SPAN_S + 3600) * 1_000_000


def _write_events(path, ts, k, v, mtime):
    pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                             "k": pa.array(k, pa.int32()),
                             "v": pa.array(v, pa.int64())}, schema=STREAM_SCHEMA), path)
    # the file source takes the oldest unseen file first: pin the order
    os.utime(path, (mtime, mtime))


def write_stream_files(seed, out_dir, n_files, mtime0):
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        ts, k, v, _ = stream_file(seed, i)
        _write_events(os.path.join(out_dir, "ev-%05d.parquet" % i), ts, k, v, mtime0 + i)
    _write_events(os.path.join(out_dir, "flush.parquet"),
                  np.array([flush_event(n_files)], dtype=np.int64),
                  np.array([SENTINEL_KEY], dtype=np.int32),
                  np.array([0], dtype=np.int64), mtime0 + n_files)


# ---- merge-table changes --------------------------------------------------

TABLE_KEYS = 20000
CHANGES_PER_FILE = 1500
DELETE_SHARE = 0.15
LOOKUP_KEYS = 5
CHANGE_SCHEMA = pa.schema([("k", pa.int64()), ("seq", pa.int64()),
                           ("deleted", pa.bool_()), ("payload", pa.string())])


def _payloads(g, n):
    return ["p%016x" % x for x in g.integers(0, 2**63 - 1, size=n, dtype=np.int64)]


def change_file(seed, j):
    """Change file j as columns (k, seq, deleted, payload).

    File 0 loads every key once. Later files draw keys with repeats, so
    one batch can touch a key several times with distinct seqs, listed
    in shuffled order so the winner is not simply the last row."""
    g = np.random.default_rng([seed, 29, j])
    if j == 0:
        k = np.arange(TABLE_KEYS, dtype=np.int64)
        return k, np.zeros(TABLE_KEYS, np.int64), np.zeros(TABLE_KEYS, bool), \
            _payloads(g, TABLE_KEYS)
    n = CHANGES_PER_FILE
    k = g.integers(0, TABLE_KEYS, size=n).astype(np.int64)
    seq = j * 1_000_000 + g.permutation(n).astype(np.int64)
    deleted = g.random(n) < DELETE_SHARE
    payload = _payloads(g, n)
    return k, seq, deleted, [None if d else p for d, p in zip(deleted, payload)]


def lookup_keys(seed, n_rounds, per_round):
    g = np.random.default_rng([seed, 41])
    return g.integers(0, TABLE_KEYS, size=(n_rounds, per_round, LOOKUP_KEYS)).tolist()


def write_change_files(seed, out_dir, n_files, mtime0):
    os.makedirs(out_dir, exist_ok=True)
    for j in range(n_files):
        k, seq, deleted, payload = change_file(seed, j)
        path = os.path.join(out_dir, "ch-%05d.parquet" % j)
        pq.write_table(pa.table({"k": k, "seq": seq, "deleted": deleted,
                                 "payload": pa.array(payload, pa.string())},
                                schema=CHANGE_SCHEMA), path)
        os.utime(path, (mtime0 + j, mtime0 + j))
