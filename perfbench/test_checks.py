"""Tests of the benchmark's own correctness checks: each check passes a
correct result and fails a deliberately wrong one.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import copy
import json
import os
import random
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


class DedupChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        gen.gen_dedup(7, cls.tmp.name)
        with open(os.path.join(cls.tmp.name, "dedup", "expect.json")) as f:
            cls.expect = json.load(f)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def correct(self):
        """What a correct curation pass produces for the planted corpus."""
        e = self.expect
        clean = set(e["input_ids"]) - set(e["blank_ids"])
        exact = clean - set(e["exact_removed"])
        near = exact - {max(a, b) for a, b, _ in e["near_pairs"]}
        decon = near - set(e["contaminated"])
        rates = {"web": 0.5, "code": 0.8, "books": 1.0, "wiki": 1.0}
        gate = random.Random(1)
        sample = {i for i in sorted(decon) if gate.random() < rates[e["source_of"][str(i)]]}
        return {"input": len(e["input_ids"]), "clean": sorted(clean), "exact": sorted(exact),
                "near": sorted(near), "decontaminated": sorted(decon), "sample": sorted(sample),
                "rates": rates, "pairs_again": 0, "exact_again": len(near)}

    def assertFails(self, obs):
        self.assertTrue(checks.check_dedup(obs, self.expect), "check passed a wrong result")

    def test_correct_result_passes(self):
        self.assertEqual(checks.check_dedup(self.correct(), self.expect), [])

    def test_dropped_row_fails(self):
        obs = self.correct()
        unique = sorted(set(obs["exact"]) - {x for p in self.expect["near_pairs"] for x in p[:2]})
        obs["exact"].remove(unique[0])
        self.assertFails(obs)

    def test_duplicate_survivor_fails(self):
        obs = self.correct()
        dup = self.expect["exact_removed"][0]
        for k in ("exact", "near", "decontaminated"):
            obs[k] = sorted(obs[k] + [dup])
        self.assertFails(obs)

    def test_missed_near_duplicate_fails(self):
        obs = self.correct()
        a, b, _ = self.expect["near_pairs"][0]
        obs["near"] = sorted(set(obs["near"]) | {a, b})
        self.assertFails(obs)

    def test_removed_below_threshold_doc_fails(self):
        obs = self.correct()
        a = self.expect["far_pairs"][0][0]
        for k in ("near", "decontaminated", "sample"):
            obs[k] = [i for i in obs[k] if i != a]
        self.assertFails(obs)

    def test_contaminated_survivor_fails(self):
        obs = self.correct()
        c = self.expect["planted_contaminated"][0]
        obs["decontaminated"] = sorted(obs["decontaminated"] + [c])
        self.assertFails(obs)

    def test_second_dedup_removing_more_fails(self):
        obs = self.correct()
        obs["pairs_again"] = 1
        self.assertFails(obs)
        obs = self.correct()
        obs["exact_again"] -= 1
        self.assertFails(obs)

    def test_sample_outside_input_fails(self):
        obs = self.correct()
        obs["sample"] = sorted(obs["sample"] + [self.expect["contaminated"][0]])
        self.assertFails(obs)


def university(i, **kw):
    r = {"id": i, "name": "University of X%d" % i, "country": "Peru", "alpha_two_code": "PE",
         "domains": ["x%d.edu.pe" % i], "web_pages": ["http://www.x%d.edu.pe/" % i],
         "primary_domain": "x%d.edu.pe" % i, "primary_website": "http://www.x%d.edu.pe/" % i,
         "last_updated": "2026-01-01T00:00:00.000Z"}
    r.update(kw)
    return r


CSV_HEADER = ["id", "name", "country", "alpha_two_code", "state-province", "domains",
              "web_pages", "primary_domain", "primary_website", "last_updated"]


def csv_row(i):
    return [str(i), "University of X%d" % i, "Peru", "PE", "", "x%d.edu.pe" % i,
            "http://www.x%d.edu.pe/" % i, "x%d.edu.pe" % i, "http://www.x%d.edu.pe/" % i,
            "2026-01-01T00:00:00.000Z"]


class EtlChecks(unittest.TestCase):
    valid = [1, 2, 3]

    def test_staged_json(self):
        rows = [university(i) for i in self.valid]
        self.assertEqual(checks.check_staged_json(rows, self.valid), [])
        self.assertTrue(checks.check_staged_json(rows[:2], self.valid), "dropped row passed")
        untrimmed = rows[:2] + [university(3, name=" University of X3 ")]
        self.assertTrue(checks.check_staged_json(untrimmed, self.valid), "untrimmed string passed")
        untrimmed = rows[:2] + [university(3, domains=["x3.edu.pe "], primary_domain="x3.edu.pe ")]
        self.assertTrue(checks.check_staged_json(untrimmed, self.valid), "untrimmed element passed")
        wrong = rows[:2] + [university(3, primary_website="http://other/")]
        self.assertTrue(checks.check_staged_json(wrong, self.valid), "wrong primary_* passed")
        invalid = rows[:2] + [university(3, web_pages=[], primary_website=None)]
        self.assertTrue(checks.check_staged_json(invalid, self.valid), "row without web pages passed")

    def test_staged_csv(self):
        rows = [csv_row(i) for i in self.valid]
        self.assertEqual(checks.check_staged_csv(CSV_HEADER, rows, self.valid), [])
        self.assertTrue(checks.check_staged_csv(CSV_HEADER, rows[:2], self.valid), "dropped row passed")
        null = copy.deepcopy(rows)
        null[0][4] = "null"
        self.assertTrue(checks.check_staged_csv(CSV_HEADER, null, self.valid), "null cell passed")
        short = copy.deepcopy(rows)
        short[1] = short[1][:-1]
        self.assertTrue(checks.check_staged_csv(CSV_HEADER, short, self.valid), "missing cell passed")
        padded = copy.deepcopy(rows)
        padded[2][1] = " University of X3"
        self.assertTrue(checks.check_staged_csv(CSV_HEADER, padded, self.valid), "untrimmed cell passed")

    def test_cycles(self):
        expect = {"valid_ids": [self.valid], "live_counts": [10, 12], "probes": [[], [[5, "Org 5 v1"]]]}
        good = {"cycle": 1, "wave": 0, "refresh_count": 3, "refresh_failed_sources": [],
                "refresh_start_ms": 1000, "json_count": 3, "csv_count": 3, "last_updated_ms": 1500,
                "live_count": 12, "prev_version_count": 10, "probes": [[5, "Org 5 v1"]]}
        self.assertEqual(checks.check_etl_cycles([good], expect), [])
        for key, wrong in (("refresh_count", 2), ("json_count", 4), ("csv_count", 2),
                           ("live_count", 11), ("prev_version_count", 12),
                           ("probes", [[5, "Org 5 v0"]]), ("probes", []),
                           ("last_updated_ms", None), ("refresh_failed_sources", ["peru"])):
            bad = dict(good, **{key: wrong})
            self.assertTrue(checks.check_etl_cycles([bad], expect), "wrong %s passed" % key)


class Declaration(unittest.TestCase):
    def test_metrics_match_benchmark_json(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
