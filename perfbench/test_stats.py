"""Self-tests for the benchmark's own arithmetic and generators.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import tempfile
import unittest

import gen_dump
import gen_tables
import stats


class TailChoice(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_choice(1000), (99.0, 10))
        self.assertEqual(stats.tail_choice(10000), (99.9, 10))
        self.assertEqual(stats.tail_choice(200), (95.0, 10))
        self.assertEqual(stats.tail_choice(100), (90.0, 10))
        self.assertEqual(stats.tail_choice(40), (75.0, 10))
        self.assertEqual(stats.tail_choice(39), (70.0, 11))
        self.assertEqual(stats.tail_choice(20), (50.0, 10))

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail_choice(19), (50.0, 9))
        self.assertEqual(stats.tail_choice(1), (50.0, 0))

    def test_every_choice_leaves_ten_beyond_when_possible(self):
        for n in range(20, 400):
            p, k = stats.tail_choice(n)
            self.assertGreaterEqual(k, 10)
            vals = list(range(n))
            self.assertEqual(sum(1 for v in vals if v > stats.percentile(vals, p)), k)

    def test_nearest_rank_percentile(self):
        vals = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(vals, 50), 3)
        self.assertEqual(stats.percentile(vals, 100), 5)
        self.assertEqual(stats.percentile(vals, 1), 1)


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end}


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 0, 30, 70),
                 span(3, 0, 60, 65)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - 60)
        self.assertEqual(st[1], 40)

    def test_children_spilling_past_the_parent_are_clipped(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 130), span(2, 0, -20, 5)]
        self.assertEqual(stats.self_times(spans)[0], 100 - 10 - 5)

    def test_nested_spans_and_residual_add_up(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 0, 40), span(2, 0, 40, 90),
                 span(3, 1, 5, 35), span(4, 3, 10, 20), span(5, 2, 45, 95)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 10)
        self.assertEqual(st[1], 10)
        self.assertEqual(st[3], 20)
        self.assertEqual(st[2], 5)
        # the op's direct children plus its residual cover its wall
        self.assertEqual(st[0] + stats.union_length([(0, 40), (40, 90)]), 100)

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25), (3, 3)]), 20)


def sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class Determinism(unittest.TestCase):
    NAMES = [f"{m}{i:02d}_x" for m, n in
             [("q", 40), ("d", 12), ("t", 9), ("s", 14), ("st", 11), ("e", 1)]
             for i in range(1, n + 1)]
    COSTS = {n: sum(map(ord, n)) % 97 / 10.0 for n in NAMES[::2]}

    def test_dump_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            agg_a = gen_dump.generate(a, 300, 7)
            agg_b = gen_dump.generate(b, 300, 7)
            gen_dump.generate(c, 300, 8)
            self.assertEqual(sha(a), sha(b))
            self.assertEqual(agg_a, agg_b)
            self.assertNotEqual(sha(a), sha(c))
            self.assertEqual(agg_a["releases"], 300)
            self.assertTrue(0.15 < agg_a["null_master_id"] / 300 < 0.35)

    def test_tables_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            gen_tables.write(os.path.join(d, "a"), 0.001, 42)
            gen_tables.write(os.path.join(d, "b"), 0.001, 42)
            for f in sorted(os.listdir(os.path.join(d, "a"))):
                self.assertEqual(sha(os.path.join(d, "a", f)), sha(os.path.join(d, "b", f)), f)

    def test_same_seed_same_sample_and_order(self):
        s1 = stats.stratified_sample(self.NAMES, self.COSTS, 5, 8.0)
        s2 = stats.stratified_sample(list(reversed(self.NAMES)), self.COSTS, 5, 8.0)
        self.assertEqual(s1, s2)
        self.assertEqual(stats.pass_orders(s1, 3, 4), stats.pass_orders(s2, 3, 4))
        self.assertNotEqual(stats.pass_orders(s1, 3, 4), stats.pass_orders(s1, 4, 4))
        self.assertNotEqual(stats.pass_orders(s1, 3, 2)[0], stats.pass_orders(s1, 3, 2)[1])
        self.assertEqual(sorted(stats.pass_orders(s1, 3, 1)[0]), sorted(s1))

    def test_sample_takes_the_middle_of_each_cost_stratum_per_module(self):
        costs = {f"q{i:02d}_x": i / 10.0 for i in range(40)}
        costs.update({"st01_x": 9.9, "st02_x": 0.5, "e01_x": 0.1})
        names = sorted(costs) + ["t01_new"]
        s = stats.stratified_sample(names, costs, 4, 3.5)
        # e and st get one each, st01 is over the cap; q00..q35 in runs
        # of 4; t01_new has no cost and counts at the median (1.9)
        self.assertEqual(s, ["e01_x", "q02_x", "q06_x", "q10_x", "q14_x", "q18_x",
                             "q22_x", "q26_x", "q30_x", "q34_x", "st02_x", "t01_new"])
        self.assertEqual(stats.module_of("st02_x"), "st")


if __name__ == "__main__":
    unittest.main()
