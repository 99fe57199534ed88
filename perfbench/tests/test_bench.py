"""Tests of the benchmark's Python side: generators, digests, gate, compare.

    python3 -m unittest discover -s perfbench/tests
"""
import copy
import filecmp
import io
import json
import os
import random
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def setUpModule():
    # scratch files stay inside the checkout
    tempfile.tempdir = os.path.join(run.BUILD, "test-tmp")
    os.makedirs(tempfile.tempdir, exist_ok=True)


def tearDownModule():
    shutil.rmtree(tempfile.tempdir, ignore_errors=True)
    tempfile.tempdir = None


class GeneratorTest(unittest.TestCase):

    def _write(self, fn, seed, **kw):
        d = tempfile.mkdtemp()
        fn(seed, d, **kw)
        return d

    def assertSameFiles(self, a, b, names):
        match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_breweries_deterministic(self):
        a = self._write(gen.write_breweries, 7, n=1500)
        b = self._write(gen.write_breweries, 7, n=1500)
        c = self._write(gen.write_breweries, 8, n=1500)
        names = ["day1.jsonl", "day2.jsonl", "expected.json"]
        self.assertSameFiles(a, b, names)
        self.assertFalse(filecmp.cmp(os.path.join(a, "day1.jsonl"),
                                     os.path.join(c, "day1.jsonl"), shallow=False))

    def test_corpus_deterministic(self):
        a = self._write(gen.write_corpus, 7, n_docs=60, n_vecs=30)
        b = self._write(gen.write_corpus, 7, n_docs=60, n_vecs=30)
        self.assertSameFiles(a, b, ["documents.parquet", "embeddings.parquet"])

    def test_breweries_carry_the_noise_silver_cleans(self):
        day1, day2, expected = gen.breweries(3, n=3000)
        ids = [r["id"] for r in day1]
        self.assertGreater(len(ids), len(set(ids)))  # duplicate ids
        self.assertTrue(any(r["name"] is None for r in day1))  # null required field
        self.assertTrue(any(r["state"] and r["state"] != r["state"].strip() for r in day1))
        self.assertTrue(any(r["state"] and r["state"].isupper() for r in day1))
        silver = gen.clean(day1)
        self.assertLess(len(silver), len(set(ids)))
        self.assertTrue(all(r["state"] == r["state"].lower().strip() for r in silver))
        # the null-city rule fails by design (the reference's gold shape)
        report = json.loads(expected["validate_gold_quality@2025-10-15"]["report"])
        self.assertEqual([r["passed"] for r in report], [True, False, True])

    def test_day2_keeps_untouched_partitions(self):
        day1, day2, expected = gen.breweries(3, n=3000)
        s1 = {}
        for r in gen.clean(day1):
            s1[r["state"]] = s1.get(r["state"], 0) + 1
        s2 = expected["transform_silver@2025-10-16"]["silver_by_state"]
        touched = {r["state"].strip().lower() for r in day2 if r["state"]}
        untouched = set(s1) - touched
        self.assertTrue(untouched)
        for state in untouched:
            self.assertEqual(s1[state], s2[state])


class DigestTest(unittest.TestCase):

    def test_row_and_column_order_do_not_matter(self):
        cols = ["id_a", "id_b", "score"]
        rows = [(1, 2, 0.5), (3, 4, 0.25), (5, 6, None)]
        shuffled = rows[:]
        random.Random(1).shuffle(shuffled)
        permuted = [(r[2], r[0], r[1]) for r in shuffled]
        d = oracle.digest(cols, rows)
        self.assertEqual(d, oracle.digest(cols, shuffled))
        self.assertEqual(d, oracle.digest(["score", "id_a", "id_b"], permuted))

    def test_values_compare_exactly(self):
        cols = ["k", "v"]
        base = oracle.digest(cols, [(1, 0.1), (2, 3.0)])
        self.assertNotEqual(base, oracle.digest(cols, [(1, 0.1 + 1e-16), (2, 3.0)]))
        self.assertNotEqual(base, oracle.digest(cols, [(1, 0.1)]))
        # numbers compare by value, as in tools/check.py
        self.assertEqual(base, oracle.digest(cols, [(1, 0.1), (2, 3)]))
        self.assertNotEqual(oracle.digest(["b"], [(True,)]), oracle.digest(["b"], [(1,)]))

    def test_matches_the_scala_digest(self):
        # the same rows digested by graft.bench.Digest (see DigestSpec)
        rows = [(7, 0.1, "a\"b", True), (-2, 2.0, "é", None), (0, float("nan"), "", False)]
        self.assertEqual(oracle.digest(["k", "x", "s", "f"], rows), SCALA_DIGEST)


SCALA_DIGEST = "2898fcd26eda79dafc9e5f088618dc1bdbf3ef7155b98e527c5c7d9ebf49d03f"


def _medallion_result(expected, passes=2):
    calls = [{"name": name, "ok": True, "error": None, "out": copy.deepcopy(out)}
             for name, out in sorted(expected.items())]
    return {"passes": [{"kind": "timed", "calls": copy.deepcopy(calls)}
                       for _ in range(passes)]}


class GateTest(unittest.TestCase):

    def setUp(self):
        self.data = tempfile.mkdtemp()
        gen.write_breweries(5, self.data, n=1500)
        with open(os.path.join(self.data, "expected.json")) as f:
            self.expected = json.load(f)

    def test_clean_output_passes(self):
        errors = []
        res = _medallion_result(self.expected)
        self.assertEqual(run.gate("medallion", res, self.data, errors), (16, 0))
        self.assertEqual(errors, [])

    def test_corrupted_output_fails(self):
        res = _medallion_result(self.expected)
        out = res["passes"][1]["calls"][0]["out"]
        key = next(iter(out))
        if isinstance(out[key], dict):
            state = next(iter(out[key]))
            out[key][state] += 1
        else:
            out[key] += 1
        errors = []
        self.assertEqual(run.gate("medallion", res, self.data, errors), (16, 1))
        self.assertEqual(len(errors), 1)

    def test_failed_call_fails(self):
        res = _medallion_result(self.expected, passes=1)
        res["passes"][0]["calls"][2].update(ok=False, error="boom", out={})
        self.assertEqual(run.gate("medallion", res, self.data, []), (8, 1))

    def test_query_gate_uses_oracle_digests(self):
        data = tempfile.mkdtemp()
        gen.write_corpus(5, data, n_docs=40, n_vecs=10)
        sql = "SELECT lang, count(*) AS n FROM documents GROUP BY lang"
        import duckdb
        rel = duckdb.sql(sql.replace("documents", "'%s'" % os.path.join(data, "documents.parquet")))
        good = oracle.digest([d[0] for d in rel.description], rel.fetchall())
        res = {"oracle_sql": {"q": sql},
               "passes": [{"kind": "timed", "calls": [
                   {"name": "q", "ok": True, "error": None, "out": {"digest": good}},
                   {"name": "q", "ok": True, "error": None, "out": {"digest": good[::-1]}}]}]}
        build = run.BUILD
        try:
            run.BUILD = tempfile.mkdtemp()
            self.assertEqual(run.gate("corpus", res, data, []), (2, 1))
        finally:
            run.BUILD = build


class CompareTest(unittest.TestCase):

    def test_flags_plan_changes_only(self):
        def result(jobs, batch):
            return {"workloads": {"corpus": {"metrics": {
                "q151_pagerank.jobs": {"value": jobs, "unit": "count"},
                "batch_s": {"value": batch, "unit": "s"}}}}}
        buf = io.StringIO()
        self.assertEqual(compare.compare(result(40, 5.0), result(40, 4.0), buf), 0)
        self.assertIn("-20.0%", buf.getvalue())
        self.assertEqual(compare.compare(result(40, 5.0), result(38, 5.0), io.StringIO()), 1)


if __name__ == "__main__":
    unittest.main()
