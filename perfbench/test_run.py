"""Self-tests of the benchmark's Python side: python3 -m unittest perfbench/test_run.py"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        for n, p in [(5, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0),
                     (99, 75.0), (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
                     (10000, 99.9)]:
            xs = list(range(1, n + 1))
            got_p, value = run.tail(xs)
            self.assertEqual(got_p, p, n)
            beyond = sum(1 for x in xs if x > value)
            self.assertGreaterEqual(beyond, 10 if n >= 20 else 0, n)

    def test_nearest_rank(self):
        self.assertEqual(run.percentile([3, 1, 2, 4], 50), 2)
        self.assertEqual(run.percentile([3, 1, 2, 4], 75), 3)
        self.assertEqual(run.percentile([7], 99.9), 7)
        self.assertEqual(run.tail(list(range(100, 0, -1)))[1], 90)


def fake_result():
    ops = []
    for p in (1, 2):
        for name in ("a", "b", "c"):
            ops.append({"pass": p, "traced": False, "name": name, "ok": True,
                        "checked": True, "fp": f"1:{name}", "expect": f"1:{name}",
                        "error": None, "wall": 1.0})
    return {"warm": {"a": "1:a", "b": "1:b", "c": "1:c"}, "ops": ops}


class Steal(unittest.TestCase):
    def test_unstolen(self):
        self.assertEqual(run.unstolen(10.0, 0.0, 4), 10.0)
        self.assertEqual(run.unstolen(10.0, 8.0, 4), 8.0)

    def test_pass_s_is_median_of_untraced_unstolen_passes(self):
        r = {"cores": 4, "passes": [
            {"traced": False, "wall": 5.0, "steal": 4.0, "heap_mb": 80.0},
            {"traced": True, "wall": 1.0, "steal": 0.0, "heap_mb": 90.0},
            {"traced": False, "wall": 6.0, "steal": 0.0, "heap_mb": 82.0}]}
        m = run.end_to_end(r, 3.0)
        self.assertEqual(m["pass_s"], 5.0)
        self.assertEqual(m["live_heap_mb"], 81.0)


class FailedCounting(unittest.TestCase):
    def test_all_good(self):
        r = fake_result()
        self.assertEqual(run.check_ops(r, {"a": "1:a", "b": "1:b"}), set())
        self.assertFalse(any(o["failed"] for o in r["ops"]))

    def test_wrong_result_against_recorded_reference(self):
        r = fake_result()
        self.assertEqual(run.check_ops(r, {"a": "1:a", "b": "2:deadbeef"}), {"b"})
        self.assertEqual([o["name"] for o in r["ops"] if o["failed"]], ["b", "b"])

    def test_wrong_result_within_the_run_and_exceptions(self):
        r = fake_result()
        r["ops"][0]["checked"] = False          # result differs from warm-up
        r["ops"][4]["ok"] = False               # op threw
        run.check_ops(r, None)
        self.assertEqual(sum(o["failed"] for o in r["ops"]), 2)


class Inputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(f"{d}/a", 0.001, 5)
            gen.write_tables(f"{d}/b", 0.001, 5)
            gen.write_tables(f"{d}/c", 0.001, 6)
            for t in ("lineitem", "documents", "embeddings", "events"):
                a = open(f"{d}/a/{t}.parquet", "rb").read()
                self.assertEqual(a, open(f"{d}/b/{t}.parquet", "rb").read(), t)
                self.assertNotEqual(a, open(f"{d}/c/{t}.parquet", "rb").read(), t)


if __name__ == "__main__":
    unittest.main()
