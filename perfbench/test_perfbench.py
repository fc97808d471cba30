"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py

The last test builds graft (first run only) and runs the client JVM
once, on a small catalog with one table removed.
"""
import json
import os
import re
import shutil
import tempfile
import unittest

import duckdb
import pandas as pd

import check
import gen
import run

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _result(samples_per_pass, errors=()):
    """A client result with the given per-pass query times; ``errors``
    names (pass index, query) samples that threw."""
    kinds = ["cold"] + ["steady"] * (len(samples_per_pass) - 1)
    return {
        "setup": {"start_s": 1.0, "warmup_s": 0.5},
        "peak_rss_mb": 100.0,
        "check_errors": {},
        "passes": [
            {"index": i, "kind": k, "wall_s": sum(qs.values()),
             "queries": {q: {"s": t, "rows": 1,
                             "error": "Boom" if (i, q) in errors else None}
                         for q, t in qs.items()}}
            for i, (k, qs) in enumerate(zip(kinds, samples_per_pass))],
    }


class Names(unittest.TestCase):
    def test_metric_and_workload_names(self):
        spec = _bench_json()
        names = ([m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
                 + [w["name"] for w in spec["workloads"]])
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)

    def test_printed_metrics_match_benchmark_json(self):
        spec = _bench_json()
        self.assertEqual({m["name"] for m in spec["end_to_end"]}, set(run.E2E_UNITS))
        per_layer = {f"{m}.{k}" for m, ks in run.PRINTED_LAYERS.items() for k in ks}
        per_layer |= {"session.start_s", "session.warmup_s", "exec_busy_frac",
                      "trace.overhead_frac"}
        self.assertEqual({m["name"] for m in spec["per_layer"]}, per_layer)
        for m in spec["end_to_end"]:
            self.assertEqual(m["unit"], run.E2E_UNITS[m["name"]])
        for m in spec["per_layer"]:
            self.assertEqual(m["unit"], run.layer_unit(m["name"]))

    def test_benchmark_workloads_are_defined(self):
        defined = run.load_workloads()
        for w in _bench_json()["workloads"]:
            self.assertIn(w["name"], defined)


class Accounting(unittest.TestCase):
    FAST = {"a": 0.001, "b": 1.0}
    SLOW = {"a": 2.0, "b": 1.0}

    def test_clean_run(self):
        attempted, failed, m, _ = run.summarize(_result([self.SLOW] * 5), {}, 1200)
        self.assertEqual((attempted, failed), (10, 0))
        self.assertAlmostEqual(m["pass_s"], 3.0)
        self.assertAlmostEqual(m["rows_per_s"], 400.0)
        self.assertAlmostEqual(m["setup_s"], 1.5)
        self.assertEqual(set(m), set(run.E2E_UNITS))

    def test_wrong_output_fails_every_execution_and_reports_no_pass(self):
        # a query that returns the wrong rows quickly must not look fast
        attempted, failed, m, _ = run.summarize(
            _result([self.FAST] * 5), {"a": "differs from the DuckDB oracle"}, 1000)
        self.assertEqual((attempted, failed), (10, 5))
        self.assertNotIn("pass_s", m)

    def test_throwing_query_only_leaves_clean_passes(self):
        passes = [self.SLOW, self.SLOW, self.SLOW, self.FAST, self.SLOW]
        attempted, failed, m, detail = run.summarize(
            _result(passes, errors={(3, "a")}), {}, 1000)
        self.assertEqual((attempted, failed), (10, 1))
        self.assertEqual(detail["clean_passes"], 3)
        self.assertAlmostEqual(m["pass_s"], 3.0)


class OutputCheck(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.WORK, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=run.WORK)
        self.inputs = os.path.join(self.dir, "in")
        self.out = os.path.join(self.dir, "out")
        os.makedirs(self.inputs)
        os.makedirs(os.path.join(self.out, "outputs", "q"))
        os.makedirs(os.path.join(self.out, "outputs", "r"))
        con = duckdb.connect()
        con.execute(f"COPY (SELECT range AS k, range * 0.1 AS v FROM range(5)) "
                    f"TO '{self.inputs}/t.parquet' (FORMAT parquet)")
        con.execute(f"COPY (SELECT k, v + 1e-12 AS v FROM '{self.inputs}/t.parquet' "
                    f"ORDER BY k DESC) TO '{self.out}/outputs/q/part.parquet' (FORMAT parquet)")
        con.execute(f"COPY (SELECT 1 AS x) TO '{self.out}/outputs/r/part.parquet' "
                    f"(FORMAT parquet)")
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump({"q": "SELECT v, k FROM t"}, f)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_oracle_match_and_reference(self):
        # r has no oracle and no property check: without a reference for
        # the (seed, CPU count) it is unchecked, which is a failure
        failures, summaries = check.check_outputs(
            "w", 1, 4, self.inputs, self.out, ["q", "r"], {})
        self.assertEqual(list(failures), ["r"])
        self.assertIn("unchecked", failures["r"])
        ref = {"w": {"1/cpus4": {"r": summaries["r"]}}}
        self.assertEqual(check.check_outputs("w", 1, 4, self.inputs, self.out, ["r"], ref)[0], {})
        self.assertIn("unchecked", check.check_outputs(
            "w", 1, 2, self.inputs, self.out, ["r"], ref)[0]["r"])
        ref["w"]["1/cpus4"]["r"] = [1, "0000000000000000"]
        self.assertIn("reference", check.check_outputs(
            "w", 1, 4, self.inputs, self.out, ["r"], ref)[0]["r"])

    def test_planted_wrong_output(self):
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump({"q": "SELECT k, v FROM t WHERE k > 0"}, f)
        failures, _ = check.check_outputs("w", 1, 4, self.inputs, self.out, ["q"], {})
        self.assertIn("rows 5 != 4", failures["q"])
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump({"q": "SELECT k, CASE WHEN k = 3 THEN 9 ELSE v END AS v FROM t"}, f)
        failures, _ = check.check_outputs("w", 1, 4, self.inputs, self.out, ["q"], {})
        self.assertIn("col v", failures["q"])

    def test_missing_output(self):
        failures, _ = check.check_outputs("w", 1, 4, self.inputs, self.out, ["q", "gone"], {})
        self.assertEqual(list(failures), ["gone"])


class PropertyChecks(unittest.TestCase):
    """The exact-answer checks of the no-oracle queries, against small
    stand-ins of graft's oracles with the same shape."""
    O = gen.OFFSET
    JACCARD = ("WITH g AS (SELECT doc_id, string_split(text, ' ') AS grams FROM documents) "
               "SELECT doc_id_1, doc_id_2, round(jaccard_raw, 4) AS jaccard FROM ("
               "SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, "
               "len(list_intersect(a.grams, b.grams)) / len(list_distinct(a.grams || b.grams)) "
               "AS jaccard_raw FROM g a JOIN g b ON a.doc_id < b.doc_id) t "
               "WHERE jaccard_raw >= 0.7")
    TOPK = ("SELECT query_id, vec_id, round(cos, 4) AS cosine, "
            "CAST(rank() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank "
            "FROM (SELECT q.vec_id AS query_id, c.vec_id, "
            "list_cosine_similarity(q.embedding, c.embedding) AS cos "
            "FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id "
            "WHERE q.vec_id < 1) QUALIFY rank <= 2")

    def setUp(self):
        self.con = duckdb.connect()
        o = self.O
        self.con.execute(f"""CREATE TABLE documents AS SELECT * FROM (VALUES
            (1, 'a b c d e f g h i j'), (2, 'k l m n o p q r s t'),
            ({1 + o}, 'a b c d e f g h i j'), ({2 + o}, 'k l m n o p q r s'),
            (3, 'a b c d e f g h i x')) t(doc_id, text)""")
        self.con.execute(f"""CREATE TABLE embeddings AS SELECT * FROM (VALUES
            (0, [1.0, 0.0, 0.0]), ({o}, [1.0, 0.1, 0.0]), (1, [0.0, 1.0, 0.0]),
            (2, [0.5, 0.5, 0.5])) t(vec_id, embedding)""")
        self.oracles = {"dedup_ngram_jaccard": self.JACCARD, "ann_cosine_topk": self.TOPK}

    def minhash(self, rows):
        got = pd.DataFrame(rows, columns=["doc_id_1", "doc_id_2", "jaccard"])
        return check.PROPERTIES["dedup_minhash"](self.con, got, self.oracles)

    def ann(self, rows):
        got = pd.DataFrame(rows, columns=["query_id", "vec_id", "cosine", "rank"])
        return check.PROPERTIES["ann_ivfpq"](self.con, got, self.oracles)

    def test_minhash(self):
        o = self.O
        right = [(1, 1 + o, 1.0), (2, 2 + o, 0.9), (1, 3, 0.8182)]
        self.assertIsNone(self.minhash(right))
        self.assertIn("not an exact", self.minhash(right + [(1, 2, 0.75)]))
        self.assertIn("jaccard", self.minhash([(1, 1 + o, 0.9)] + right[1:]))
        self.assertIn("found 1 of 2 planted", self.minhash(right[:1]))

    def test_ann(self):
        o = self.O
        right = [(0, o, 0.995, 1), (0, 2, 0.5774, 2)]
        self.assertIsNone(self.ann(right))
        self.assertIn("cosine", self.ann([(0, o, 0.9, 1), right[1]]))
        self.assertIn("found 0 of 1 planted", self.ann([(0, 1, 0.0, 1), right[1]]))
        self.assertIn("rows per query", self.ann(right[:1]))

    def test_changed_oracle_fails(self):
        self.oracles["dedup_ngram_jaccard"] = self.JACCARD.replace("JOIN g b", "CROSS JOIN g b")
        self.assertIn("no longer holds", self.minhash([(1, 1 + self.O, 1.0)]))


class Generator(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        os.makedirs(run.WORK, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.WORK) as d:
            a, ma = gen.ensure("llm_corpus", 3, os.path.join(d, "a"))
            b, mb = gen.ensure("llm_corpus", 3, os.path.join(d, "b"))
            c, mc = gen.ensure("llm_corpus", 4, os.path.join(d, "c"))
            self.assertEqual(ma["tables"], mb["tables"])
            self.assertEqual(ma["planted"], mb["planted"])
            self.assertNotEqual(ma["planted"], mc["planted"])
            con = duckdb.connect()
            q = "SELECT md5(string_agg(text, '|' ORDER BY doc_id)) FROM '{}/documents.parquet'"
            self.assertEqual(con.execute(q.format(a)).fetchone(),
                             con.execute(q.format(b)).fetchone())


class Client(unittest.TestCase):
    def test_registered_queries_and_a_throwing_query(self):
        classpath = run.build()
        with tempfile.TemporaryDirectory(dir=run.WORK) as d:
            listing = os.path.join(d, "queries.json")
            run.java(classpath, ["--list-queries", listing], os.path.join(d, "list.log"), 120)
            with open(listing) as f:
                registered = json.load(f)
            for w in run.load_workloads().values():
                for q, _ in w["queries"]:
                    self.assertIn(q, registered["queries"])
            # a catalog without lineitem: check_range throws, the rest run
            inputs, _ = gen.ensure("dq_small", 1, os.path.join(d, "inputs"))
            os.remove(os.path.join(inputs, "lineitem.parquet"))
            out = os.path.join(d, "out")
            run.java(classpath, ["--inputs", inputs, "--out", out, "--seconds", "0",
                                 "--trace", "0", "--cpus", "2",
                                 "--items", "colcompare_schema:operators,check_range:checks"],
                     os.path.join(d, "jvm.log"), 160)
            with open(os.path.join(out, "result.json")) as f:
                result = json.load(f)
            failures, _ = check.check_outputs(
                "dq_small", 1, 2, inputs, out, ["colcompare_schema", "check_range"], {})
            attempted, failed, m, _ = run.summarize(result, failures, 1000)
            # a cold pass and three measured passes of two queries
            self.assertEqual(attempted, 8)
            self.assertEqual(failed, 4)
            self.assertNotIn("pass_s", m)
            self.assertIn("check_range", failures)
            self.assertNotIn("colcompare_schema", failures)


if __name__ == "__main__":
    unittest.main()
