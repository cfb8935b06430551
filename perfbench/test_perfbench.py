"""Self-tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

PERFBENCH_INTEGRATION=1 adds one real run (~40 s) with a corrupted
expected hash.
"""
import contextlib
import io
import json
import os
import tempfile
import unittest

import inputs
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def call(query, spans, hash_=(3, 42), error=None):
    return {"query": query, "hash": list(hash_), "error": error, "layers": {},
            "spans": [{"name": n, "start_ns": str(a), "end_ns": str(b),
                       "parent": None if n == "query" else "query", "query": query}
                      for n, a, b in spans]}


def tiled(query, t0, build, plan, consume, release):
    b, p, c, r = t0 + build, t0 + build + plan, t0 + build + plan + consume, \
        t0 + build + plan + consume + release
    return call(query, [("query", t0, r), ("build", t0, b), ("plan", b, p),
                        ("consume", p, c), ("release", c, r)])


def record(calls, wall_ns):
    return {"setup_end_ms": "5000", "launch_ms": "1000", "dump_ms": "1500.0", "cores": "4",
            "queries": sorted({c["query"] for c in calls}),
            "passes": [{"traced": False, "start_ns": "0", "end_ns": str(wall_ns),
                        "heap_peak_live_bytes": str(100 * 2 ** 20), "calls": calls,
                        "unattributed": {}}]}


class PercentileRule(unittest.TestCase):
    def test_p90_when_ten_samples_lie_beyond(self):
        self.assertEqual(run.tail_rank(100), 90)
        self.assertEqual(run.tail_rank(1000), 900)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(run.tail_rank(50), 40)   # p80
        self.assertEqual(run.tail_rank(11), 1)
        value, pct = run.tail(list(range(1, 51)))
        self.assertEqual((value, pct), (40, 80.0))

    def test_no_percentile_with_ten_samples_or_fewer(self):
        self.assertIsNone(run.tail_rank(10))
        self.assertEqual(run.tail([1.0] * 10), (None, None))


class FailuresAreCounted(unittest.TestCase):
    def test_corrupted_expected_hash_fails_and_names_the_query(self):
        rec = record([tiled("q_a", 0, 10, 10, 10, 10), tiled("q_b", 40, 10, 10, 10, 10)], 80)
        good = {"q_a": [3, 42], "q_b": [3, 42]}
        outcomes = run.judge(rec, good, {})
        self.assertTrue(all(why is None for _, _, why in outcomes))
        corrupt = dict(good, q_b=[3, 43])
        outcomes = run.judge(rec, corrupt, {})
        failed = [(q, why) for _, q, why in outcomes if why]
        self.assertEqual([q for q, _ in failed], ["q_b"])
        self.assertIn("content hash", failed[0][1])
        ok = {(i, q) for i, q, why in outcomes if why is None}
        e2e, detail = run.end_to_end(rec, ok)
        self.assertEqual(e2e["error_rate"], 0.5)
        self.assertEqual(detail["failed"], 1)
        self.assertEqual(e2e["setup_s"], 2.5)  # the oracle dump is not set-up

    def test_exception_is_a_failure_with_its_message(self):
        c = tiled("q_a", 0, 1, 1, 1, 1)
        c["error"], c["hash"] = "java.lang.IllegalStateException: boom", None
        outcomes = run.judge(record([c], 4), {"q_a": [3, 42]}, {})
        self.assertEqual(outcomes[0][2], "java.lang.IllegalStateException: boom")


class SeededInputs(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        base = os.path.join(ROOT, ".bench_build")
        os.makedirs(base, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=base) as a, tempfile.TemporaryDirectory(dir=base) as b:
            da, db, dc = inputs.make(a, 7), inputs.make(b, 7), inputs.make(b, 8)
            for t in inputs.TABLES:
                name = f"{t}.parquet"
                with open(os.path.join(da, name), "rb") as fa, open(os.path.join(db, name), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), name)
            with open(os.path.join(db, "documents.parquet"), "rb") as fb, \
                    open(os.path.join(dc, "documents.parquet"), "rb") as fc:
                self.assertNotEqual(fb.read(), fc.read())

    def test_seed_zero_is_the_base_data(self):
        self.assertEqual(inputs.make(ROOT, 0), inputs.BASE)


class SpansAccount(unittest.TestCase):
    def test_self_time_excludes_children(self):
        c = tiled("q", 0, 5_000_000, 1_000_000, 9_000_000, 2_000_000)
        c["spans"][0]["end_ns"] = "18000000"  # 1 ms of the call outside its children
        selfs = {s["name"]: s["self_ms"] for s in run.with_self_time(c["spans"])}
        self.assertAlmostEqual(selfs["query"], 1.0)
        self.assertAlmostEqual(selfs["consume"], 9.0)

    def test_coverage_of_a_pass(self):
        calls = [tiled("q_a", 0, 10, 10, 10, 10), tiled("q_b", 40, 10, 10, 10, 10)]
        self.assertEqual(run.span_coverage(record(calls, 80)["passes"][0]), 1.0)
        self.assertEqual(run.span_coverage(record(calls, 160)["passes"][0]), 0.5)


@unittest.skipUnless(os.environ.get("PERFBENCH_INTEGRATION") == "1", "set PERFBENCH_INTEGRATION=1")
class CorruptedHashEndToEnd(unittest.TestCase):
    def test_a_real_run_reports_the_corrupted_query(self):
        seed = 987654
        cache = os.path.join(ROOT, ".bench_build", "perfbench", "expected",
                             f"variant_{inputs.variant(seed)}.json")
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        saved = open(cache).read() if os.path.exists(cache) else None
        with open(cache, "w") as f:
            json.dump(dict(json.loads(saved or "{}"), q5_region_revenue=[0, 0]), f)
        out, err = io.StringIO(), io.StringIO()
        cwd = os.getcwd()
        try:
            os.chdir(ROOT)
            with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
                run.main(["--workload", "analytics", "--seed", str(seed), "--seconds", "1"])
        finally:
            os.chdir(cwd)
            if saved is None:
                os.remove(cache)
            else:
                with open(cache, "w") as f:
                    f.write(saved)
        result = json.loads(out.getvalue().strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertIn("q5_region_revenue", err.getvalue())


if __name__ == "__main__":
    unittest.main()
