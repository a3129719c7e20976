"""The benchmark's own tests. No JVM needed:

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import battery  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402


def tree_digest(root):
    """sha1 over every file's relative path and bytes."""
    h = hashlib.sha1()
    for d, dirs, names in os.walk(root):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    def write(self, seed):
        out = tempfile.mkdtemp()
        gen.write_jq_inputs(out, seed, 60, 4)
        gen.write_rel_inputs(out, seed, n_orders=200, n_customers=20)
        gen.write_corpus_inputs(out, seed, n_docs=80, n_nodes=50, mean_out=3)
        return tree_digest(out)

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.write(7), self.write(7))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(self.write(7), self.write(8))

    def test_seed_moves_every_generator(self):
        self.assertNotEqual(gen.doc_lines(1, 20), gen.doc_lines(2, 20))
        self.assertNotEqual(gen.corpus_docs(1, 30), gen.corpus_docs(2, 30))
        self.assertNotEqual(gen.rel_params(1), gen.rel_params(2))
        a, b = gen.citation_edges(1, 40, 3), gen.citation_edges(2, 40, 3)
        self.assertFalse(len(a[0]) == len(b[0]) and (a[0] == b[0]).all() and (a[1] == b[1]).all())

    def test_documents_are_about_one_percent_malformed(self):
        _, docs = gen.doc_lines(3, 4000)
        self.assertTrue(10 <= sum(d is None for d in docs) <= 80)


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 1001))
        v, p, beyond = report.tail(xs)
        self.assertEqual((v, p, beyond), (990, 99, 10))

    def test_thirty_samples(self):
        v, p, beyond = report.tail(list(range(1, 31)))
        # p66 leaves 10 above its nearest-rank position 20; p67 would leave 9
        self.assertEqual((v, p, beyond), (20, 66, 10))

    def test_too_few_samples_falls_back_to_the_median(self):
        self.assertEqual(report.tail([5, 1, 3, 2, 4]), (3, 50, 2))
        self.assertEqual(report.tail([4, 1, 3, 2]), (2.5, 50, 2))

    def test_order_does_not_matter(self):
        xs = [0.1 * i for i in range(57)]
        self.assertEqual(report.tail(xs), report.tail(list(reversed(xs))))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            report.tail([])


class PassTotals(unittest.TestCase):
    def test_groups_by_pass_in_order(self):
        recs = [{"pass": 2, "rows_in": 10, "wall_s": 1.0, "listener": {"cpu_s": 2.0}},
                {"pass": 1, "rows_in": 10, "wall_s": 0.5, "listener": {"cpu_s": 1.0}},
                {"pass": 1, "rows_in": 30, "wall_s": 1.5, "listener": None}]
        self.assertEqual(report.pass_totals(recs), [
            {"rows": 40, "wall_s": 2.0, "cpu_s": 1.0},
            {"rows": 10, "wall_s": 1.0, "cpu_s": 2.0}])


class CorpusOracle(unittest.TestCase):
    def test_near_pairs_join_exact_survivors_into_the_clusters(self):
        docs = gen.corpus_docs(5, 400)
        gated, exact, pairs, reps = battery.corpus_answers(docs)
        survivors = set(exact)
        self.assertTrue(pairs)
        for a, b in pairs:
            self.assertLess(a, b)
            self.assertIn(a, survivors)
            self.assertIn(b, survivors)
        # every pair's members end up in one cluster: the larger id is no rep
        self.assertFalse({b for _, b in pairs} & set(reps))


class ResultLine(unittest.TestCase):
    def test_round_trip(self):
        line = report.result_line(True, 12, 0, {"latency_ms": (1.25, "ms"), "setup_s": (0.5, "s")})
        obj = report.parse_result_line("noise\n" + line + "\n")
        self.assertEqual(obj["attempted"], 12)
        self.assertEqual(obj["metrics"]["setup_s"], {"value": 0.5, "unit": "s"})

    def test_last_line_wins(self):
        good = report.result_line(False, 3, 1, {"x": (1.0, "s")})
        self.assertFalse(report.parse_result_line('{"summary": 1}\n' + good)["correct"])

    def test_rejects_bad_lines(self):
        for bad in ["", "not json", '{"correct": true}',
                    '{"correct": true, "attempted": 0, "failed": 0, "metrics": {}}',
                    '{"correct": 1, "attempted": 2, "failed": 0, "metrics": {}}',
                    '{"correct": true, "attempted": 2, "failed": 0, "metrics": {"a": {"value": "x", "unit": "s"}}}']:
            with self.assertRaises(ValueError):
                report.parse_result_line(bad)

    def test_summary_line_is_bounded(self):
        self.assertLess(len(report.summary_line({"a": 1})), 1500)
        with self.assertRaises(ValueError):
            report.summary_line({"a": "x" * 2000})


class Scoring(unittest.TestCase):
    def plan(self):
        rows = [{"k": 1, "n": 3, "v_n": 3, "v_sum": 1.5}, {"n": 2, "v_n": 0}]
        return {"expected": {"q": {"check": "rows", "rows": rows},
                             "c": {"check": "exact", "value": {"n": 4, "crc": 99}}},
                "rows": {"q": 10, "c": 10}}

    def records(self):
        return [{"id": "q", "error": None, "result": ['{"n":2,"v_n":0}', '{"k":1,"n":3,"v_n":3,"v_sum":1.5000000000001}']},
                {"id": "c", "error": None, "result": ['{"crc":99,"n":4}']}]

    def test_matching_results_pass(self):
        self.assertEqual(run.score(self.plan(), self.records()), (2, 0))

    def test_corrupted_expected_answer_fails(self):
        plan = self.plan()
        plan["expected"]["q"]["rows"][0]["v_n"] = 4
        plan["expected"]["c"]["value"]["crc"] = 98
        attempted, failed = run.score(plan, self.records())
        self.assertGreater(failed / attempted, 0)
        self.assertEqual(failed, 2)

    def test_errors_count_as_failed(self):
        recs = self.records()
        recs[1]["error"] = "boom"
        self.assertEqual(run.score(self.plan(), recs), (2, 1))

    def test_pagerank_tolerance(self):
        exp = {"check": "pagerank", "n": 2, "rank_sum": 3000.0, "sum_tol": 10.0,
               "sample": {"5": 1000.0}, "abs_tol": 5.0, "rel_tol": 0.0}
        obs = lambda r: [json.dumps({"n": 2, "rank_sum": 2995, "sample": [json.dumps({"node": 5, "rank": r})]})]
        self.assertTrue(battery.check(exp, obs(996)))
        self.assertFalse(battery.check(exp, obs(990)))


class CanonicalJson(unittest.TestCase):
    def test_rust_sci(self):
        # graft's golden corpus: 10.2 -> 1.02e1, 0.2 -> 2e-1
        cases = {10.2: "1.02e1", 0.2: "2e-1", 123.45: "1.2345e2", 1e-05: "1e-5",
                 3.0: "3e0", -2.25: "-2.25e0", 1.5e16: "1.5e16", 0.0: "0e0"}
        for x, want in cases.items():
            self.assertEqual(battery.rust_sci(x), want)

    def test_stream_rewrites_floats_only(self):
        jq_out = '{"a":0.10000000000000001,"b":12,"s":"sku-01234"}\n[1,2.5,-3e-07]\n'
        self.assertEqual(battery.canonical_stream(jq_out),
                         '{"a":1e-1,"b":12,"s":"sku-01234"}\n[1,2.5e0,-3e-7]\n')

    def test_generated_strings_hold_no_float_token(self):
        # canonical_stream rewrites by token, so no generated string may
        # contain something that reads as a float
        for piece in gen.PIECES + gen.TAGS + gen.KINDS + gen.SOURCES + ["sku-01234"]:
            self.assertIsNone(battery._FLOAT.search(json.dumps(piece, ensure_ascii=False)))


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], report.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], report.PER_LAYER)
        self.assertLessEqual({w["name"] for w in b["workloads"]}, set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
