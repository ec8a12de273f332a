"""The benchmark's own tests: generators are seed-deterministic, and every
checker rejects a perturbed copy of a correct output.

    python3 -m unittest graftbench/test_bench.py

Needs pyarrow, numpy and duckdb; does not start Spark.
"""
import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def tree(d):
    return sorted(os.path.relpath(os.path.join(p, f), d) for p, _, fs in os.walk(d) for f in fs)


class Scratch(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="test-", dir=os.path.join(HERE, ".work"))

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def sub(self, *p):
        return os.path.join(self.dir, *p)


class GeneratorTest(Scratch):
    def write_all(self, seed, d):
        gen.write_llm_tables(seed, os.path.join(d, "tables"))
        gen.write_stream_files(seed, os.path.join(d, "stream"), 4, 1_000_000)
        gen.write_change_files(seed, os.path.join(d, "table"), 3, 1_000_000)

    def test_same_seed_gives_identical_bytes(self):
        self.write_all(7, self.sub("a"))
        self.write_all(7, self.sub("b"))
        files = tree(self.sub("a"))
        self.assertEqual(files, tree(self.sub("b")))
        self.assertGreater(len(files), 10)
        for f in files:
            self.assertTrue(filecmp.cmp(self.sub("a", f), self.sub("b", f), shallow=False), f)

    def test_other_seed_gives_other_contents(self):
        self.write_all(7, self.sub("a"))
        self.write_all(8, self.sub("b"))
        for f in tree(self.sub("a")):
            if os.path.basename(f) == "flush.parquet":
                continue            # the sentinel depends only on the file count
            self.assertFalse(filecmp.cmp(self.sub("a", f), self.sub("b", f), shallow=False), f)


class LlmCheckTest(Scratch):
    """check_llm against an oracle query, and the exact near-duplicate set."""

    def setUp(self):
        super().setUp()
        import duckdb
        self.tables = self.sub("tables")
        gen.write_llm_tables(3, self.tables)
        self.out = self.sub("out")
        os.makedirs(os.path.join(self.out, "llm"))
        sql = "SELECT doc_id, n_chars FROM documents WHERE doc_id % 7 = 0"
        with open(os.path.join(self.out, "oracle.json"), "w") as f:
            json.dump({"q_oracle": sql}, f)
        self.con = check.duckdb_con(self.tables)
        self.rows = {
            "q_oracle": (["doc_id", "n_chars"], self.con.sql(sql).fetchall()),
            "e1_minhash_lsh": (["id_a", "id_b", "jaccard"], check.exact_near_dups(
                self.con.sql("SELECT doc_id, text FROM documents").fetchall())),
        }
        self.duckdb = duckdb

    def write(self, name, cols, rows):
        d = os.path.join(self.out, "llm", name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        import pyarrow as pa
        import pyarrow.parquet as pq
        pq.write_table(pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}),
                       os.path.join(d, "part-0.parquet"))

    def verdicts(self):
        return {n: ok for n, ok, _ in check.check_llm(self.tables, self.out, list(self.rows))}

    def test_correct_output_passes(self):
        for n, (cols, rows) in self.rows.items():
            self.write(n, cols, rows)
        self.assertEqual(self.verdicts(), {n: True for n in self.rows})
        self.assertGreater(len(self.rows["e1_minhash_lsh"][1]), 20)

    def test_one_row_dropped_fails(self):
        for dropped in self.rows:
            for n, (cols, rows) in self.rows.items():
                self.write(n, cols, rows[1:] if n == dropped else rows)
            v = self.verdicts()
            self.assertFalse(v[dropped], dropped)
            self.assertTrue(all(ok for n, ok in v.items() if n != dropped))

    def test_pagerank_mass(self):
        self.assertTrue(check.pagerank_mass(["node", "rank"], [(1, 0.25), (2, 0.75)])[1])
        self.assertFalse(check.pagerank_mass(["node", "rank"], [(1, 0.25), (2, 0.7)])[1])


class StreamCheckTest(unittest.TestCase):
    N = 5

    def emitted(self):
        model, _, _, late_groups = check.stream_model(11, self.N)
        return sorted((ws, we, k, n, s) for (ws, we, k), (n, s) in model.items()), late_groups

    def verdicts(self, windows, dropped):
        return {n: ok for n, ok, _ in check.check_stream(11, self.N, windows, dropped)}

    def test_correct_output_passes(self):
        w, dropped = self.emitted()
        self.assertEqual(set(self.verdicts(w, dropped).values()), {True})

    def test_one_window_sum_changed_fails(self):
        w, dropped = self.emitted()
        ws, we, k, n, s = w[3]
        w[3] = (ws, we, k, n, s + 1)
        v = self.verdicts(w, dropped)
        self.assertFalse(v["stream.windows"])
        self.assertTrue(v["stream.conservation"])

    def test_one_window_dropped_fails(self):
        w, dropped = self.emitted()
        v = self.verdicts(w[1:], dropped)
        self.assertFalse(v["stream.windows"])
        self.assertFalse(v["stream.conservation"])

    def test_dropped_count_off_by_one_fails(self):
        w, dropped = self.emitted()
        self.assertFalse(self.verdicts(w, dropped + 1)["stream.dropped"])


class TableCheckTest(unittest.TestCase):
    SEED = 5

    def outputs(self):
        model = check.TableModel(self.SEED)
        lookups, scans = [], []
        keys = gen.lookup_keys(self.SEED, 3, 2)
        for applied in (2, 3, 4):
            model.advance(applied)
            for ks in keys[applied - 2]:
                lookups.append({"applied": applied, "keys": ks,
                                "rows": [[k, model.rows[k]] for k in sorted(set(ks)) if k in model.rows]})
            scans.append({"applied": applied, "rows": len(model.rows),
                          "digest": check.digest(model.rows.items())})
        return model, lookups, scans

    def test_correct_output_passes(self):
        _, lookups, scans = self.outputs()
        res = check.check_table(self.SEED, lookups, scans)
        self.assertEqual(len(res), len(lookups) + len(scans))
        self.assertTrue(all(ok for _, ok, _ in res))

    def test_one_key_payload_swapped_fails(self):
        model, lookups, scans = self.outputs()
        live = next(x for x in lookups if len(x["rows"]) >= 2)
        (k1, p1), (k2, p2) = live["rows"][:2]
        live["rows"][:2] = [[k1, p2], [k2, p1]]
        rows = dict(model.rows)
        a, b = sorted(rows)[:2]
        rows[a], rows[b] = rows[b], rows[a]
        scans[-1]["digest"] = check.digest(rows.items())
        bad = {n for n, ok, _ in check.check_table(self.SEED, lookups, scans) if not ok}
        self.assertEqual(bad, {f"table.lookup{lookups.index(live)}", f"table.scan{len(scans) - 1}"})

    def test_model_rules(self):
        m = check.TableModel(self.SEED)
        m.advance(2)
        k, seq, deleted, payload = gen.change_file(self.SEED, 1)
        last = {}
        for kk, s, d, p in zip(k.tolist(), seq.tolist(), deleted.tolist(), payload):
            if kk not in last or s > last[kk][0]:
                last[kk] = (s, d, p)
        for kk, (_, d, p) in last.items():
            self.assertEqual(m.rows.get(kk), None if d else p)


class MetricListTest(unittest.TestCase):
    def test_metric_tables_match_benchmark_json(self):
        spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual(tuple(w["name"] for w in spec["workloads"]), run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
