"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The planted-failure tests run the real driver for a few seconds each (the
first one builds it) and are skipped when sbt is not on the PATH.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import compare  # noqa: E402
import gen_etl  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        a = gen_etl.generate(11, countries=120, slices=3)
        b = gen_etl.generate(11, countries=120, slices=3)
        self.assertEqual(a, b)
        with tempfile.TemporaryDirectory() as d1, \
                tempfile.TemporaryDirectory() as d2:
            gen_etl.write(a, d1)
            gen_etl.write(b, d2)
            for rel in a:
                with open(os.path.join(d1, rel), "rb") as f1, \
                        open(os.path.join(d2, rel), "rb") as f2:
                    self.assertEqual(f1.read(), f2.read(), rel)

    def test_other_seed_gives_other_inputs(self):
        self.assertNotEqual(gen_etl.generate(11, 120, 3)["un_crime.csv"],
                            gen_etl.generate(12, 120, 3)["un_crime.csv"])

    def test_pages_hold_at_most_per_page_rows(self):
        files = gen_etl.generate(3, countries=2500, slices=2)
        pages = [json.loads(v) for k, v in files.items()
                 if k.startswith("population/")]
        self.assertTrue(any(p[0]["pages"] > 1 for p in pages))
        self.assertTrue(all(len(p[1]) <= gen_etl.PER_PAGE for p in pages))

    def test_every_rule_drops_planted_rows(self):
        exp = json.loads(gen_etl.generate(5, 300, 4)["expected.json"])
        rules = {s: set(v["dropped_by_rule"]) for s, v in exp["ledger"].items()}
        self.assertEqual(rules["population"], {
            "aggregate", "bad_iso3", "null_name", "null_value",
            "non_positive", "out_of_window"})
        self.assertEqual(rules["crime"], {
            "non_numeric", "negative", "bad_iso3", "non_total_slice",
            "out_of_window", "non_europe"})
        self.assertEqual(rules["immigration"], {
            "bad_iso2", "non_numeric", "no_population"})

    def test_half_even_matches_spark_bround(self):
        self.assertEqual(str(gen_etl.half_even(110.125, 2)), "110.12")
        self.assertEqual(str(gen_etl.half_even(46999999.6, 0)), "47000000")
        self.assertEqual(str(gen_etl.half_even(12345678.5, 0)), "12345678")


class StatsTest(unittest.TestCase):
    def test_quartiles_match_the_acceptance_rule(self):
        vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        self.assertEqual(compare.quartiles(vals), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(compare.spread(vals), 5.5 / 5.5)

    def test_pair_rule_needs_nine_of_ten_and_a_gap(self):
        parent = {s: 10.0 + 0.1 * s for s in range(10)}
        change = {s: v - 2.0 for s, v in parent.items()}
        self.assertEqual(compare.pair_rule(parent, change, "lower"),
                         (10, 10, True))
        # Eight wins of ten: no gain, however large the gap.
        change[0] = change[1] = 99.0
        self.assertEqual(compare.pair_rule(parent, change, "lower")[:2],
                         (8, 10))
        self.assertFalse(compare.pair_rule(parent, change, "lower")[2])
        # Ten wins but a gap inside the parent's spread: no gain.
        close = {s: v - 0.05 for s, v in parent.items()}
        self.assertFalse(compare.pair_rule(parent, close, "lower")[2])

    def test_verdicts(self):
        m = {"name": "run_s", "bound": 0.1, "better": "lower"}
        parent = {s: 10.0 + 0.01 * s for s in range(10)}
        self.assertEqual(compare.verdict(parent, {s: v * 1.2 for s, v in
                                                  parent.items()}, m)[0],
                         "regression")
        self.assertEqual(compare.verdict(parent, {s: v * 0.8 for s, v in
                                                  parent.items()}, m)[0],
                         "gain")
        self.assertEqual(compare.verdict(parent, dict(parent), m)[0], "same")
        noisy = {s: (5.0 if s % 2 else 15.0) for s in range(10)}
        self.assertEqual(compare.verdict(parent, noisy, m)[0], "unresolved")

    def test_refuses_different_shapes(self):
        spec = {"end_to_end": [{"name": "run_s", "bound": 0.1,
                                "better": "lower"}]}

        def rec(seed, cpus):
            return {"workload": "etl", "seed": seed, "failed": 0,
                    "end_to_end": {"run_s": 1.0},
                    "provenance": {"cpus": cpus, "seconds": 5}}
        with self.assertRaises(SystemExit):
            compare.compare([rec(1, 4)], [rec(1, 8)], spec)
        with self.assertRaises(SystemExit):
            compare.compare([rec(1, 4)], [rec(2, 4)], spec)
        self.assertEqual(len(compare.compare([rec(1, 4)], [rec(1, 4)], spec)),
                         1)


@unittest.skipUnless(shutil.which("sbt"), "needs sbt to build the driver")
class PlantedFailureTest(unittest.TestCase):
    def run_bench(self, workload, plant):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "3", "--seconds", "1", "--trace", "0",
             "--plant", plant], capture_output=True, text=True, timeout=1200)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_wrong_query_result_is_a_failure(self):
        r = self.run_bench("corpus_scan", "wrong_result")
        self.assertFalse(r["correct"])
        # One corrupted expected value, checked once per pass.
        self.assertGreaterEqual(r["failed"], 1)
        self.assertLess(r["failed"], r["attempted"])

    def test_duplicate_key_row_is_a_failure(self):
        r = self.run_bench("etl", "dup_key")
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)


if __name__ == "__main__":
    unittest.main()
