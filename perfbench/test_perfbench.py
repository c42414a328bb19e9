"""Tests of the benchmark's own logic:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):
    SF = 0.001

    def landing(self, seed, root):
        base = gen.make_base(seed, self.SF)
        gen.write_landing(base, os.path.join(root, "landing"))
        for k in range(2):
            delta, _ = gen.make_delta(base, seed, k)
            gen.write_landing(delta, os.path.join(root, f"delta{k}"))

    def test_same_seed_gives_byte_identical_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            self.landing(7, a)
            self.landing(7, b)
            self.landing(8, c)
            for sub in ("landing", "delta0", "delta1"):
                names = sorted(os.listdir(os.path.join(a, sub)))
                self.assertEqual(len(names), len(gen.PIPELINE_TABLES))
                match, mismatch, errors = filecmp.cmpfiles(
                    os.path.join(a, sub), os.path.join(b, sub), names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []))
            _, differ, _ = filecmp.cmpfiles(
                os.path.join(a, "landing"), os.path.join(c, "landing"),
                ["customer.csv", "lineitem.csv"], shallow=False)
            self.assertEqual(differ, ["customer.csv", "lineitem.csv"])

    def test_delta_counts_are_exact(self):
        for seed in (1, 2, 3):
            base = gen.make_base(seed, self.SF)
            for k in range(3):
                delta, counts = gen.make_delta(base, seed, k)
                for name, pk, col in gen.PIPELINE_TABLES:
                    rows = delta[name]
                    if col is None:
                        self.assertEqual(counts[name], (0, 0))
                        self.assertEqual(len(rows[pk]), 0)
                        continue
                    n = len(base[name][pk])
                    self.assertEqual(counts[name], (gen.changes(n), gen.news(n)))
                    keys = rows[pk]
                    self.assertEqual(len(keys), len(set(keys.tolist())))
                    old = np.isin(keys, base[name][pk])
                    self.assertEqual(int(old.sum()), gen.changes(n))
                    self.assertEqual(int((~old).sum()), gen.news(n))
                    # a changed key differs from its base row in `col` only
                    pos = np.searchsorted(base[name][pk], keys[old])
                    for c, v in rows.items():
                        same = v[old] == base[name][c][pos]
                        self.assertEqual(bool(same.all()), c != col, (name, c))
                        if c == col:
                            self.assertFalse(same.any(), (name, c))

    def test_csv_round_trips_the_row_count(self):
        with tempfile.TemporaryDirectory() as d:
            counts = gen.write_landing(gen.make_base(3, self.SF), d)
            for name, n in counts.items():
                with open(os.path.join(d, f"{name}.csv")) as f:
                    self.assertEqual(sum(1 for _ in f), n + 1)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end, name="s", call=0):
        return {"id": i, "parent": parent, "call": call, "name": name,
                "start": start, "end": end}

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            self.span(0, -1, 0, 100),
            self.span(1, 0, 10, 30),
            self.span(2, 0, 20, 50),    # overlaps child 1: union 10..50
            self.span(3, 0, 90, 120),   # sticks out of the parent: 90..100 counts
            self.span(4, 1, 12, 18),    # grandchild: subtracts from 1 only
        ]
        own = stats.self_times(spans)
        self.assertEqual(own, {0: 100 - 40 - 10, 1: 20 - 6, 2: 30, 3: 30, 4: 6})

    def test_covered_ignores_intervals_outside(self):
        self.assertEqual(stats.covered([(200, 300), (-50, -10)], 0, 100), 0)
        self.assertEqual(stats.covered([(0, 100), (10, 20)], 0, 100), 100)

    def test_layer_seconds_per_table_and_medians(self):
        ns = 1_000_000_000
        spans = []
        for call, extra in ((1, 0), (2, 2), (3, 4)):
            base = call * 100 * ns
            spans += [
                self.span(10 * call, -1, base, base + 10 * ns, "call", call),
                self.span(10 * call + 1, 10 * call, base, base + (3 + extra) * ns,
                          "etl.SilverScd2.run.customer", call),
                self.span(10 * call + 2, 10 * call, base + 5 * ns, base + 6 * ns,
                          "etl.SilverScd2.run.orders", call),
            ]
        got = stats.layer_seconds(spans, [1, 2, 3])
        self.assertEqual(got["etl.SilverScd2.run_s.customer"], 5.0)
        self.assertEqual(got["etl.SilverScd2.run_s.orders"], 1.0)
        self.assertEqual(got["etl.SilverScd2.run_s"], 6.0)
        self.assertEqual(got["call_s"], 4.0)


class PercentileTest(unittest.TestCase):
    def test_reported_only_with_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(99)), 0.9))
        self.assertEqual(stats.percentile(list(range(100)), 0.9), 89)
        self.assertIsNone(stats.percentile(list(range(19)), 0.5))
        self.assertEqual(stats.percentile(list(range(20)), 0.5), 9)
        self.assertIsNone(stats.percentile([], 0.5))


if __name__ == "__main__":
    unittest.main()
