"""Tests of the benchmark's own logic (no engine, no JVM).

Run from the repository root: python3 -m unittest discover -s perfbench
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def tree(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            for out in (a, b):
                gen.pipeline(f"{out}/p", seed=7, days=3)
                gen.corpus(f"{out}/c", seed=7)
            self.assertEqual(tree(a), tree(b))
            for rel in tree(a):
                self.assertTrue(filecmp.cmp(f"{a}/{rel}", f"{b}/{rel}", shallow=False), rel)

    def test_other_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory() as a:
            gen.pipeline(f"{a}/1", seed=1, days=2)
            gen.pipeline(f"{a}/2", seed=2, days=2)
            name = "land/day_01/transactions_02012024.txt"
            self.assertFalse(filecmp.cmp(f"{a}/1/{name}", f"{a}/2/{name}", shallow=False))

    def test_replayed_duplicates_are_yesterdays_rows(self):
        with tempfile.TemporaryDirectory() as a:
            schedule = gen.pipeline(a, seed=3, days=3)
            def ids(slot, stamp):
                with open(f"{a}/land/day_{slot:02d}/transactions_{stamp}.txt") as f:
                    next(f)
                    return [line.split(";")[0] for line in f]
            d1, d2 = ids(1, "02012024"), ids(2, "03012024")
            dups = [i for i in d2 if i in set(d1)]
            self.assertEqual(len(dups), schedule[2]["dup_rows"])
            self.assertGreater(len(dups), 0.01 * len(d1))
            self.assertEqual(len(set(d2)), len(d2))

    def test_blacklist_is_a_real_workbook(self):
        import zipfile
        with tempfile.TemporaryDirectory() as a:
            gen.pipeline(a, seed=3, days=2)
            with zipfile.ZipFile(f"{a}/land/day_01/passport_blacklist_02012024.xlsx") as z:
                sheet = z.read("xl/worksheets/sheet1.xml").decode()
            self.assertIn("<t>passport</t>", sheet)

    def test_duplicate_graph_has_the_same_shape_for_every_seed(self):
        import pyarrow.parquet as pq
        for seed in (1, 104):
            with tempfile.TemporaryDirectory() as a:
                gen.corpus(a, seed)
                texts = pq.read_table(f"{a}/documents.parquet").column("text").to_pylist()
            self.assertEqual(sum(t.endswith(" dup") for t in texts), 25)
            self.assertEqual(sum(t.endswith(" dup dup") for t in texts), 1)
            prints = [gen.fingerprints(t) for t in texts if not t.endswith(" dup")]
            close = [(p, q) for i, p in enumerate(prints) for q in prints[:i]
                     if (p[0] ^ q[0]).bit_count() <= 3 or (p[1] ^ q[1]).bit_count() <= 3]
            self.assertEqual(close, [])

    def test_fingerprints_follow_the_query_formula(self):
        # A text shorter than both windows: padding is ' ' (phash) and 0 (audio).
        phash, audio = gen.fingerprints("ab")
        # phash: a pooled cell is 2 x 2 characters, so the first holds
        # 97 + 98 + 2 * 32 = 259 against 4 * 32 = 128 in every other cell:
        # only bit 0 of 64 is set.
        self.assertEqual(phash, 1)
        # audio: window 0 = |97-128|*256 + |98-128|*256 > 0 = window 1.
        self.assertEqual(audio, 1)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples: p90 has exactly 10 above it
        self.assertEqual(stats.tail(xs), (90, 90.0, 100))

    def test_rank_moves_with_sample_count(self):
        xs = list(range(1, 31))  # 30 samples: rank 20 -> p66.7
        v, pct, n = stats.tail(list(reversed(xs)))
        self.assertEqual((v, n), (20, 30))
        self.assertAlmostEqual(pct, 200 / 3)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_twenty_samples_give_the_median_rank(self):
        self.assertEqual(stats.tail(list(range(1, 21))), (10, 50.0, 20))

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (2.0, 50.0, 3))
        self.assertEqual(stats.tail(list(range(10))), (4.5, 50.0, 10))
        self.assertEqual(stats.tail(list(range(19))), (9, 50.0, 19))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}

    def test_self_time_subtracts_children(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 1, 4), self.span(3, 1, 5, 9),
                 self.span(4, 2, 2, 3)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 3.0)   # 10 - (3 + 4)
        self.assertAlmostEqual(st[2], 2.0)   # 3 - 1 (grandchild counts for its parent only)
        self.assertAlmostEqual(st[3], 4.0)
        self.assertAlmostEqual(st[4], 1.0)

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 1, 6), self.span(3, 1, 4, 8)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 3.0)  # children cover 1..8


class BusyRatioTest(unittest.TestCase):
    def test_busy_ratio(self):
        self.assertAlmostEqual(stats.busy_ratio(8.0, 4.0, 4), 0.5)
        self.assertAlmostEqual(stats.busy_ratio(16.0, 4.0, 4), 1.0)
        self.assertEqual(stats.busy_ratio(1.0, 0.0, 4), 0.0)


class BudgetTest(unittest.TestCase):
    def test_default_runs_end_within_180_seconds(self):
        for w in run.WORKLOADS:
            for trace in (0, 1):
                self.assertLessEqual(run.harness_budget_s(w, run.op_count(w, 10, trace)), 170)

    def test_operations_depend_on_the_arguments_only(self):
        self.assertEqual(run.op_count("daily_replay", 10, 0), 2)
        self.assertEqual(run.op_count("daily_replay", 10, 1), 2)
        self.assertEqual(run.op_count("daily_replay", 330, 0), 30)
        self.assertEqual(run.op_count("query_mix", 10, 0), 1)
        self.assertEqual(run.op_count("query_mix", 10, 1), 2)

    def test_budget_grows_with_the_operations(self):
        for w, nominal in run.WORKLOADS.items():
            base = run.op_count(w, 10, 1)
            self.assertGreaterEqual(run.harness_budget_s(w, base + 8) - run.harness_budget_s(w, base),
                                    8 * 2 * nominal)


class ContractTest(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         run.per_layer_names())
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
