"""Correctness checks of one benchmark run.

Each check compares the run's own outputs with a computation made apart
from graft: DuckDB on the registry's oracle SQL for the LLM queries, an
in-memory window model for the stream, and an in-memory merge model for
the table. Every function returns a list of (name, ok, detail).
"""
import collections
import glob
import hashlib
import json
import math
import os

import gen


def canon(rows, cols):
    """Column-name-sorted, row-sorted rendering; doubles to 6 significant digits."""
    def c(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.6g}"
        return str(v)
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(c(r[i]) for i in idx) for r in rows)


def compare_rows(got_cols, got_rows, exp_cols, exp_rows):
    """None when equal, else a one-line reason."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {sorted(got_cols)} != {sorted(exp_cols)}"
    if len(got_rows) != len(exp_rows):
        return f"rows {len(got_rows)} != {len(exp_rows)}"
    g, e = canon(got_rows, got_cols), canon(exp_rows, exp_cols)
    if g != e:
        i = next(i for i, (a, b) in enumerate(zip(g, e)) if a != b)
        return f"sorted row {i}: got {g[i]} expected {e[i]}"
    return None


# ---- LLM queries ------------------------------------------------------------

def duckdb_con(tables_dir):
    import duckdb
    con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB"})
    for t in ("documents", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet/*.parquet')")
    return con


def exact_near_dups(docs, threshold=0.5):
    """All (id_a, id_b, jaccard) with word-trigram Jaccard >= threshold.

    e1_minhash_lsh verifies its LSH candidates exactly; with 64 bands of
    2 rows a pair at Jaccard 0.5 escapes candidacy with probability
    0.75**64 < 1e-8, so its output must equal this exact set. (DuckDB's
    replay of the 128-permutation signatures takes far longer than a run.)"""
    grams = {}
    for doc_id, text in docs:
        t = [w for w in text.split(" ") if w]
        grams[doc_id] = {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}
    index = collections.defaultdict(list)
    for d, gs in grams.items():
        for g in gs:
            index[g].append(d)
    cand = {(a, b) for ds in index.values() for a in ds for b in ds if a < b}
    out = []
    for a, b in cand:
        c = len(grams[a] & grams[b])
        j = c / (len(grams[a]) + len(grams[b]) - c)
        if j >= threshold:
            out.append((a, b, j))
    return out


def check_llm(tables_dir, out_dir, queries):
    oracle = json.load(open(os.path.join(out_dir, "oracle.json")))
    con = duckdb_con(tables_dir)
    res = []
    for q in queries:
        files = sorted(glob.glob(os.path.join(out_dir, "llm", q, "*.parquet")))
        if not files:
            res.append((q, False, "no output"))
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})")
        gcols, grows = got.columns, got.fetchall()
        if q == "e1_minhash_lsh":
            docs = con.sql("SELECT doc_id, text FROM documents").fetchall()
            why = compare_rows(gcols, grows, ["id_a", "id_b", "jaccard"], exact_near_dups(docs))
            res.append((q, why is None, why or f"{len(grows)} pairs"))
            continue
        if q not in oracle:
            res.append((q, False, "no oracle SQL"))
            continue
        exp = con.sql(oracle[q])
        why = compare_rows(gcols, grows, exp.columns, exp.fetchall())
        res.append((q, why is None, why or f"{len(grows)} rows"))
        if q == "gr_pagerank":
            res.append(pagerank_mass(gcols, grows))
    return res


def pagerank_mass(cols, rows):
    """PageRank on a graph without dangling nodes conserves total rank 1."""
    i = cols.index("rank")
    mass = sum(r[i] for r in rows)
    return ("gr_pagerank.mass", abs(mass - 1.0) < 1e-9, f"mass {mass!r}")


# ---- stream windows ---------------------------------------------------------

def stream_model(seed, n_files):
    """(window count/sum per (start_us, end_us, k), generated, late, late groups).

    Late groups: Spark aggregates each task's rows partially before the
    stateful operator, so `numRowsDroppedByWatermark` counts distinct
    (window, key) groups of late rows per task, not late rows. Each file
    is one trigger and one task here, so the expected count is the sum
    over files of their distinct late (window, key) pairs."""
    win = gen.WINDOW_S * 1_000_000
    agg = collections.defaultdict(lambda: [0, 0])
    total = late_n = late_groups = 0
    for i in range(n_files):
        ts, k, v, late = gen.stream_file(seed, i)
        total += len(ts)
        late_n += int(late.sum())
        late_groups += len(set(zip((ts[late] - ts[late] % win).tolist(), k[late].tolist())))
        for t, kk, vv in zip(ts[~late].tolist(), k[~late].tolist(), v[~late].tolist()):
            a = agg[(t - t % win, t - t % win + win, kk)]
            a[0] += 1
            a[1] += vv
    return {key: tuple(x) for key, x in agg.items()}, total, late_n, late_groups


def check_stream(seed, n_files, windows, dropped):
    """windows: [(ws, we, k, n, s)] emitted; dropped: listener total."""
    model, total, late, late_groups = stream_model(seed, n_files)
    got = {(ws, we, k): (n, s) for ws, we, k, n, s in windows}
    res = []
    if got == model and len(got) == len(windows):
        res.append(("stream.windows", True, f"{len(got)} windows"))
    else:
        diff = sorted(set(got.items()) ^ set(model.items()))[:2]
        res.append(("stream.windows", False,
                    f"{len(got)} emitted vs {len(model)} modelled; first differences {diff}"))
    emitted = sum(w[3] for w in windows)
    res.append(("stream.conservation", emitted + late == total,
                f"emitted {emitted} + late {late} vs generated {total}"))
    res.append(("stream.dropped", dropped == late_groups,
                f"listener dropped {dropped} vs {late_groups} late (window, key) "
                f"groups of {late} late events"))
    return res


# ---- merge table ------------------------------------------------------------

def row_hash(k, payload):
    h = hashlib.md5(f"{k}|{payload}".encode()).digest()
    return int.from_bytes(h[:8], "big", signed=True)


def digest(rows):
    return str(sum(row_hash(k, p) for k, p in rows) % (1 << 64))


class TableModel:
    """A later batch wins; within a batch the highest seq wins; a delete
    removes the key."""

    def __init__(self, seed):
        self.seed, self.applied, self.rows = seed, 0, {}

    def advance(self, n_applied):
        while self.applied < n_applied:
            k, seq, deleted, payload = gen.change_file(self.seed, self.applied)
            win = {}
            for kk, s, d, p in zip(k.tolist(), seq.tolist(), deleted.tolist(), payload):
                if kk not in win or s > win[kk][0]:
                    win[kk] = (s, d, p)
            for kk, (_, d, p) in win.items():
                if d:
                    self.rows.pop(kk, None)
                else:
                    self.rows[kk] = p
            self.applied += 1


def check_table(seed, lookups, scans):
    """lookups: [{applied, keys, rows}], scans: [{applied, rows, digest}],
    each in the order the run made them."""
    model = TableModel(seed)
    res = []
    events = sorted([(x["applied"], 0, i, x) for i, x in enumerate(lookups)] +
                    [(x["applied"], 1, i, x) for i, x in enumerate(scans)],
                    key=lambda e: (e[0], e[1], e[2]))
    for applied, kind, i, x in events:
        model.advance(applied)
        if kind == 0:
            exp = sorted((k, model.rows[k]) for k in set(x["keys"]) if k in model.rows)
            got = sorted((k, p) for k, p in x["rows"])
            res.append((f"table.lookup{i}", got == exp,
                        "" if got == exp else f"keys {x['keys']}: got {got} expected {exp}"))
        else:
            n, d = len(model.rows), digest(model.rows.items())
            ok = x["rows"] == n and x["digest"] == d
            res.append((f"table.scan{i}", ok,
                        "" if ok else f"got {x['rows']} rows/{x['digest']} expected {n}/{d}"))
    return res
