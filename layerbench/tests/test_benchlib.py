"""Tests for the benchmark's own logic. Run: python3 -m unittest discover layerbench/tests"""
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import benchlib  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_at_or_beyond(self):
        xs = list(range(1, 101))                      # 100 samples
        self.assertAlmostEqual(benchlib.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(benchlib.percentile(xs, 90), 90.1)  # 10 samples >= 90.1
        self.assertIsNone(benchlib.percentile(xs, 91))              # only 9 left
        self.assertIsNone(benchlib.percentile(list(range(17)), 50))  # 9 at or beyond
        self.assertEqual(benchlib.percentile(list(range(20)), 50), 9.5)

    def test_ties_count_as_beyond(self):
        # latencies repeat per micro-batch: twenty equal values support p99
        xs = [5.0] * 20 + [1.0] * 980
        self.assertEqual(benchlib.percentile(xs, 99), 5.0)

    def test_empty(self):
        self.assertIsNone(benchlib.percentile([], 50))


class StratifiedDraw(unittest.TestCase):
    CANDS = {f"q{i:03d}": {"family": ("graph", "other")[i % 2], "ref_ms": float(i)}
             for i in range(45)}

    def test_same_seed_same_draw(self):
        a = benchlib.stratified_draw(self.CANDS, 7, 5)
        self.assertEqual(a, benchlib.stratified_draw(self.CANDS, 7, 5))
        self.assertNotEqual(a, benchlib.stratified_draw(self.CANDS, 8, 5))

    def test_one_per_stratum_within_family(self):
        drawn = benchlib.stratified_draw(self.CANDS, 3, 5)
        # graph has 23 queries -> 5 strata, other has 22 -> 5 strata
        self.assertEqual(len(drawn), 10)
        self.assertEqual(len(set(drawn)), 10)
        for fam in ("graph", "other"):
            ranked = sorted((q for q, c in self.CANDS.items() if c["family"] == fam),
                            key=lambda q: self.CANDS[q]["ref_ms"])
            strata = [set(ranked[i:i + 5]) for i in range(0, len(ranked), 5)]
            for s in strata:
                self.assertEqual(len(s & set(drawn)), 1)

    def test_seeded_order_is_a_permutation(self):
        qs = [f"q{i}" for i in range(18)]
        o = benchlib.seeded_order(qs, 1)
        self.assertEqual(sorted(o), sorted(qs))
        self.assertEqual(o, benchlib.seeded_order(qs, 1))


class FingerprintChecks(unittest.TestCase):
    EXP = {"q_a": {"rows": 3, "fp": "3:a:b"}, "q_b": {"rows": 1, "fp": "1:c:d"}}

    def op(self, name, rows, fp, error=None):
        return {"name": name, "rows": rows, "fp": fp, "error": error}

    def test_matching_results_pass(self):
        self.assertEqual(benchlib.check_ops([self.op("q_a", 3, "3:a:b")], self.EXP), (0, []))

    def test_each_kind_of_mismatch_counts_once(self):
        ops = [self.op("q_a", 3, "3:a:x"),            # wrong fingerprint
               self.op("q_b", 2, "1:c:d"),            # wrong row count
               self.op("q_a", -1, "", error="boom"),  # error
               self.op("q_zz", 1, "1:0:0"),           # nothing pinned
               self.op("q_b", 1, "1:c:d")]            # right
        failed, bad = benchlib.check_ops(ops, self.EXP)
        self.assertEqual(failed, 4)
        self.assertEqual([b[0] for b in bad], ["q_a", "q_b", "q_a", "q_zz"])


class GeneratorLateness(unittest.TestCase):
    def test_on_time_and_early_are_not_late(self):
        self.assertEqual(benchlib.lateness([0, 250, 500], [0, 249, 500]), (0.0, 0))

    def test_late_files_are_counted_past_half_a_period(self):
        late_max, n = benchlib.lateness([0, 250, 500, 750], [3, 300, 640, 751])
        self.assertEqual(late_max, 140)
        self.assertEqual(n, 1)  # only 140 ms > 125 ms


class Counters(unittest.TestCase):
    def test_unrepeated_counts_are_flagged(self):
        a = {"q_pacf": {"action_jobs": 4, "tasks": 9}, "q_x": {"action_jobs": 1, "tasks": 2}}
        b = {"q_pacf": {"action_jobs": 5, "tasks": 9}, "q_x": {"action_jobs": 1, "tasks": 2}}
        self.assertEqual(benchlib.unrepeated(a, b, ["action_jobs", "tasks"]),
                         [("q_pacf", "action_jobs", 4, 5)])


class Parcels(unittest.TestCase):
    def test_events_and_interleave_keep_each_orders_order(self):
        orders = benchlib.parcels_events(
            [1, 2, 3], [100, 50, 10], [1, 1, 2, 2, 2], [90, 300, 50, 40, 60])
        self.assertNotIn(3, orders)  # no lines, no events
        self.assertEqual(orders[1], [("SHIPMENT", 90, 0), ("ORDER", 100, 2), ("SHIPMENT", 300, 0)])
        self.assertEqual(orders[2][0], ("SHIPMENT", 40, 0))
        self.assertEqual(orders[2][1], ("ORDER", 50, 3))  # ORDER before a same-time shipment
        for seed in range(5):
            seq = benchlib.interleave(orders, seed)
            self.assertEqual(len(seq), 7)
            for k, evs in orders.items():
                self.assertEqual([ev for kk, ev in seq if kk == k], evs)


    def test_split_is_even_and_complete(self):
        parts = benchlib.split(list(range(10)), 3)
        self.assertEqual([len(p) for p in parts], [3, 3, 4])
        self.assertEqual(sum(parts, []), list(range(10)))


class BenchmarkFile(unittest.TestCase):
    def test_every_gated_workload_is_configured(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        cfg = json.loads((HERE / "workloads.json").read_text())
        self.assertLessEqual({w["name"] for w in bench["workloads"]}, set(cfg["workloads"]))


if __name__ == "__main__":
    unittest.main()
