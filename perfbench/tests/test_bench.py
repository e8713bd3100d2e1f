"""Self-tests of the benchmark: percentile rule, generator determinism and
that each correctness check rejects a wrong answer.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402


class PercentileRule(unittest.TestCase):

    def test_nominal_percentile_when_enough_samples_lie_beyond(self):
        xs = list(range(1, 1001))
        self.assertEqual(check.percentile(xs, 99), (99, 990, 1000))
        self.assertEqual(check.percentile(xs, 50), (50, 500, 1000))

    def test_falls_back_to_highest_percentile_with_ten_beyond(self):
        self.assertEqual(check.percentile(list(range(100)), 99)[0], 90)
        for n in (11, 37, 100, 250):
            xs = list(range(n))
            q, v, _ = check.percentile(xs, 99)
            self.assertGreaterEqual(sum(x > v for x in xs), 10, n)
            if q < 99:  # one percentile higher leaves fewer than ten beyond
                self.assertLess(n - math.ceil((q + 1) * n / 100), 10, n)

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(check.percentile([5, 1, 4, 2, 3] * 10, 50),
                         check.percentile(sorted([5, 1, 4, 2, 3] * 10), 50))

    def test_too_few_samples(self):
        self.assertEqual(check.percentile(list(range(10)), 50), (None, None, 10))


class GeneratorDeterminism(unittest.TestCase):

    def write(self, workload, seed, d):
        gen.generate(workload, seed).write(d)
        return sorted(os.listdir(d))

    def test_same_seed_same_bytes(self):
        for workload in gen.WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                names = self.write(workload, 7, a)
                self.assertEqual(names, self.write(workload, 7, b))
                match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), workload)

    def test_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            names = self.write("serve_kv", 7, a)
            self.write("serve_kv", 8, b)
            self.assertTrue(filecmp.cmpfiles(a, b, names, shallow=False)[1])

    def test_expected_state_is_latest_per_key(self):
        w = gen.generate("ingest_serve", 3)
        last = len(w.files) - 1
        replay = {}
        for rows in w.files:
            for r in rows:
                replay[r["key"]] = r
        self.assertEqual(w.state_after(last), replay)


def body(x):
    return json.dumps(x)


class Checker(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.serve = gen.generate("serve_kv", 5)
        cls.state = cls.serve.state_after(cls.serve.setup_files - 1)
        cls.post = gen.World.postings(cls.state)
        cls.ingest = gen.generate("ingest_serve", 5)

    def serve_rec(self, kind, arg, status, payload):
        return {"kind": kind, "arg": str(arg), "status": status, "body": body(payload)}

    def check_serve(self, rec):
        return check.check_serve_request(self.serve, self.state, self.post, rec)

    def test_kv_right_answers_pass(self):
        live = next(k for k, r in self.state.items() if not r["tombstone"])
        dead = next(k for k, r in self.state.items() if r["tombstone"])
        never = self.serve.cfg["keys"] + 1
        self.assertTrue(self.check_serve(self.serve_rec("kv", live, 200, self.state[live])))
        self.assertTrue(self.check_serve(self.serve_rec("kv", dead, 404, {"error": "x"})))
        self.assertTrue(self.check_serve(self.serve_rec("kv", never, 404, {"error": "x"})))

    def test_wrong_404_is_rejected(self):
        live = next(k for k, r in self.state.items() if not r["tombstone"])
        self.assertFalse(self.check_serve(self.serve_rec("kv", live, 404, {"error": "x"})))

    def test_tombstoned_key_served_is_rejected(self):
        dead = next(k for k, r in self.state.items() if r["tombstone"])
        old = self.serve.record_after(dead, 0)
        self.assertFalse(self.check_serve(self.serve_rec("kv", dead, 200, old)))

    def test_corrupted_row_is_rejected(self):
        live = next(k for k, r in self.state.items() if not r["tombstone"])
        bad = dict(self.state[live], val="0" * 16)
        self.assertFalse(self.check_serve(self.serve_rec("kv", live, 200, bad)))

    def test_corrupted_index_result_is_rejected(self):
        term = max(self.post, key=lambda t: len(self.post[t]))
        want = gen.World.index_answer(self.state, self.post, [term])
        self.assertTrue(self.check_serve(self.serve_rec("index", term, 200, want)))
        self.assertFalse(self.check_serve(self.serve_rec("index", term, 200, want[1:])))
        self.assertFalse(self.check_serve(self.serve_rec("index", term, 200, want[::-1])))
        self.assertFalse(self.check_serve(self.serve_rec("index", term, 500, want)))

    def ingest_rec(self, key, status, payload, lo, hi):
        return {"kind": "kv", "arg": str(key), "status": status, "body": body(payload),
                "lo": lo, "hi": hi}

    def test_stale_version_is_rejected(self):
        w = self.ingest
        key, hist = next((k, h) for k, h in w.history.items()
                         if len(h) >= 3 and not h[-1][1]["tombstone"]
                         and not h[-2][1]["tombstone"])
        (b_old, old), (b_new, new) = hist[-2], hist[-1]

        def ok(rec, lo, hi):
            return check.check_ingest_request(w, self.ingest_rec(key, 200, rec, lo, hi))
        # committed before the request was sent: the old version is stale
        self.assertFalse(ok(old, b_new, b_new))
        self.assertTrue(ok(new, b_new, b_new))
        # the new batch was running while the request was served: either is fine
        self.assertTrue(ok(old, b_new - 1, b_new))
        self.assertTrue(ok(new, b_new - 1, b_new))
        # a version from a batch that had not started yet is rejected too
        self.assertFalse(ok(new, b_old, b_new - 1))

    def test_wrong_404_while_ingesting_is_rejected(self):
        w = self.ingest
        key = next(k for k, h in w.history.items() if all(not r["tombstone"] for _, r in h))
        self.assertFalse(check.check_ingest_request(w, self.ingest_rec(key, 404, {}, 1, 3)))
        never = w.cfg["keys"] + 1
        self.assertTrue(check.check_ingest_request(w, self.ingest_rec(never, 404, {}, 1, 3)))

    def test_final_store_and_index_checks(self):
        state = self.state
        rows = list(state.values())
        self.assertTrue(check.check_store(state, rows))
        self.assertFalse(check.check_store(state, rows[1:]))
        self.assertFalse(check.check_store(state, rows[:-1] + [dict(rows[-1], ver=99)]))
        postings = [(t, k) for t, ks in gen.World.postings(state).items() for k in ks]
        self.assertTrue(check.check_index(state, postings))
        self.assertFalse(check.check_index(state, postings[1:]))
        self.assertFalse(check.check_index(state, postings + [("t0", -1)]))


if __name__ == "__main__":
    unittest.main()
