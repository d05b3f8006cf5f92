"""Tests for the benchmark's arithmetic. Run from the checkout root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import unittest

import metrics as M


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 41)]  # 40 samples, shuffled order
        xs = xs[::2] + xs[1::2]
        p, v, n = M.tail_percentile(xs)
        self.assertEqual((p, v, n), (75.0, 30.0, 40))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_highest_such_percentile(self):
        xs = list(range(100))
        p, v, n = M.tail_percentile(xs)
        self.assertEqual((p, v), (90.0, 89))
        # one rank higher would leave only nine beyond
        self.assertEqual(sum(1 for x in xs if x > 90), 9)

    def test_twenty_samples_give_the_median_rank(self):
        p, v, _ = M.tail_percentile(list(range(20)))
        self.assertEqual((p, v), (50.0, 9))

    def test_too_few_falls_back_to_median(self):
        self.assertEqual(M.tail_percentile([3.0, 1.0, 2.0]), (50.0, 2.0, 3))
        # 16 samples: rank 6 would leave ten beyond, but sits below the median
        self.assertEqual(M.tail_percentile(list(range(16))), (50.0, 7.5, 16))


class Geomean(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(M.geomean([1.0, 4.0, 16.0]), 4.0)
        self.assertEqual(M.geomean([]), 0.0)


class HalfWindows(unittest.TestCase):
    def test_windows(self):
        first, last = M.half_windows(list(range(12)))
        self.assertEqual(first, [0, 1, 2, 3, 4, 5])
        self.assertEqual(last, [6, 7, 8, 9, 10, 11])

    def test_odd_middle_falls_in_neither(self):
        self.assertEqual(M.half_windows([1, 2, 3, 4, 5]), ([1, 2], [4, 5]))

    def test_short_runs_keep_one_item(self):
        self.assertEqual(M.half_windows([5]), ([5], [5]))
        self.assertEqual(M.half_windows([5, 7]), ([5], [7]))

    def test_growth(self):
        xs = [1.0, 1.2, 1.1, 5.0, 2.0, 2.4, 2.2, 9.0]
        # first half [1.0, 1.2, 1.1, 5.0] -> 1.15, second [2.0, 2.4, 2.2, 9.0] -> 2.3
        self.assertAlmostEqual(M.growth(xs), 2.3 / 1.15)


class ByteAccounting(unittest.TestCase):
    # A tiny sink: one seed file and a manifest; a tick adds a data file,
    # a new manifest, and touches nothing else.
    before = {"part-0.parquet": (1000, 1), "_manifests/manifest-v1.json": (120, 1)}
    after = {"part-0.parquet": (1000, 1), "_manifests/manifest-v1.json": (120, 1),
             "part-1.parquet": (300, 2), "_manifests/manifest-v2.json": (200, 2)}

    def test_changed_bytes_counts_new_files(self):
        self.assertEqual(M.changed_bytes(self.before, self.after), 500)

    def test_rewritten_file_counts_in_full(self):
        after = dict(self.after, **{"part-0.parquet": (1000, 9)})
        self.assertEqual(M.changed_bytes(self.before, after), 1500)

    def test_lists_from_json_compare_equal(self):
        before = {k: list(v) for k, v in self.before.items()}
        self.assertEqual(M.changed_bytes(before, self.after), 500)

    def test_amplification(self):
        # submissions 0..2: 'V0','order 0','2020-01-01','C0','U000000000D'
        # = 2 + 7 + 10 + 2 + 11 = 32 bytes each for i in 0..2 (one digit)
        self.assertEqual(M.cell_bytes(0, 3), 96)
        write_amp = M.changed_bytes(self.before, self.after) / M.cell_bytes(1, 3)
        space_amp = M.dir_bytes(self.after) / M.cell_bytes(0, 3)
        self.assertAlmostEqual(write_amp, 500 / 64)
        self.assertAlmostEqual(space_amp, 1620 / 96)

    def test_cell_bytes_matches_the_row_model(self):
        def brute(lo, hi):
            total = 0
            for i in range(lo, hi):
                day = datetime.date(2020, 1, 1) + datetime.timedelta(days=i % 365)
                cells = [f"V{i % 97}", f"order {i}", day.isoformat(),
                         f"C{i % 7}", f"U{i:09d}D"]
                total += sum(len(c.encode()) for c in cells)
            return total
        for lo, hi in [(0, 0), (0, 1), (0, 250), (95, 1105), (99_990, 100_123)]:
            self.assertEqual(M.cell_bytes(lo, hi), brute(lo, hi), (lo, hi))

    def test_charge_code_counts(self):
        self.assertEqual(M.charge_code_counts(10),
                         {"C0": 2, "C1": 2, "C2": 2, "C3": 1, "C4": 1, "C5": 1, "C6": 1})


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start_ns": start, "end_ns": end}

    def test_children_subtract_once(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 40),
                 self.span(2, 0, 30, 60),   # overlaps child 1
                 self.span(3, 1, 15, 20),   # grandchild: only child 1 loses it
                 self.span(4, 0, 90, 120)]  # runs past its parent's end
        st = M.self_times(spans)
        self.assertEqual(st[0], 100 - (50 + 10))  # union [10,60] + [90,100]
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 5)

    def test_self_times_add_up_to_the_root(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 0, 25),
                 self.span(2, 0, 25, 70), self.span(3, 2, 30, 40)]
        self.assertEqual(sum(M.self_times(spans).values()), 100)

    def test_union_length(self):
        self.assertEqual(M.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(M.union_length([]), 0)


if __name__ == "__main__":
    unittest.main()
