"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import sys
import unittest

sys.dont_write_bytecode = True
import stats  # noqa: E402


def op(kind, t0, t1, ok=True, cls="read", pass_=0, rows=1, cal=1.0):
    return {"kind": kind, "cls": cls, "t0": t0, "t1": t1, "ok": ok, "pass": pass_, "rows": rows,
            "cal": cal}


class PtailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.ptail(list(range(10))))
        value, pct, n = stats.ptail(list(range(11)))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        value, pct, n = stats.ptail(list(reversed(xs)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_twenty_samples_give_the_median(self):
        value, pct, _ = stats.ptail(list(range(20)))
        self.assertEqual((value, pct), (9, 50.0))


class FailedShareTest(unittest.TestCase):
    def test_base_is_ops_attempted(self):
        ops = [op("a", 0, 1, ok=i not in (2, 5)) for i in range(8)]
        self.assertEqual(stats.failed_share(ops), 0.25)

    def test_no_ops_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failed_share([])


class DriftTest(unittest.TestCase):
    def test_thirds(self):
        self.assertEqual(stats.drift_ratio([1, 1, 1, 2, 2, 2]), 2.0)
        # seven passes: thirds of two, the middle pass ignored
        self.assertEqual(stats.drift_ratio([1, 3, 9, 100, 2, 4, 6]), 5.0 / 2.0)

    def test_few_passes(self):
        self.assertEqual(stats.drift_ratio([2, 3]), 1.5)
        self.assertIsNone(stats.drift_ratio([2]))

    def test_incomplete_pass_is_left_out(self):
        ops = [op("a", 0, 10, pass_=0), op("b", 10, 30, pass_=0),
               op("a", 30, 40, pass_=1), op("b", 40, 50, pass_=1),
               op("a", 50, 55, pass_=2), op("a", 60, 61, pass_=-1)]
        self.assertEqual(stats.pass_times(ops), [30, 20])


class DriverTimeTest(unittest.TestCase):
    def test_union_of_overlapping_jobs(self):
        jobs = [(10, 30), (20, 40), (60, 70), (95, 120), (200, 300)]
        self.assertEqual(stats.union_ms(jobs, 0, 100), 30 + 10 + 5)

    def test_driver_time_is_wall_minus_job_union(self):
        jobs = [(10, 30), (20, 40), (60, 70), (95, 120)]
        ops = [op("a", 0, 100), op("b", 100, 150)]
        # op a: 100 - 45; op b: 50 - 20 (the job running past a's end)
        self.assertEqual(stats.driver_ms(ops, jobs), 55 + 30)

    def test_no_jobs(self):
        self.assertEqual(stats.driver_ms([op("a", 5, 9)], []), 4)


class SlotUtilizationTest(unittest.TestCase):
    def test_task_time_over_slot_time(self):
        self.assertEqual(stats.slot_utilization(200.0, 100.0, 4), 0.5)

    def test_no_wall_time_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.slot_utilization(1.0, 0.0, 4)


class DeckTimeTest(unittest.TestCase):
    DECK = {"scan": 3, "fixture_scan": 1, "pruned": 3, "read_as": 1, "tail": 1, "stats": 1,
            "write": 3}
    # per-kind medians in ms, of the order a table_io run measures
    P50 = {"scan": 300, "fixture_scan": 170, "pruned": 185, "read_as": 210, "tail": 500,
           "stats": 320, "write": 490}

    def ops(self, slow=None, factor=1.0):
        out = []
        for kind, n in self.DECK.items():
            ms = self.P50[kind] * (factor if kind == slow else 1.0)
            cls = "write" if kind == "write" else "read"
            # the deck's samples plus one outlier on each side of the median
            out += [op(kind, 0, ms, cls=cls) for _ in range(n)]
            out += [op(kind, 0, ms * 0.5, cls=cls), op(kind, 0, ms * 4, cls=cls)]
        return out

    def test_kind_medians_weighted_by_deck_count(self):
        self.assertEqual(stats.deck_time(self.ops(), "read", self.DECK),
                         3 * 300 + 170 + 3 * 185 + 210 + 500 + 320)
        self.assertEqual(stats.deck_time(self.ops(), "write", self.DECK), 3 * 490)

    def test_a_busy_kind_twice_as_slow_crosses_a_quarter(self):
        base = stats.deck_time(self.ops(), "read", self.DECK)
        slow = stats.deck_time(self.ops("scan", 2.0), "read", self.DECK)
        # the full scan is a third of the deck's read time; an unweighted
        # geometric mean over the six read kinds would move by 2 ** (1/6) - 1
        self.assertGreater(slow / base - 1.0, 0.25)

    def test_each_op_in_units_of_its_own_calibration(self):
        # the machine slows twice over for the second and third op; in
        # calibration units the three ops take the same time
        ops = [op("scan", 0, 100, cal=10.0), op("scan", 0, 200, cal=20.0),
               op("scan", 0, 220, cal=22.0), op("write", 0, 50, cls="write", cal=10.0)]
        self.assertEqual(stats.deck_time(ops, "read", self.DECK, stats.op_cal), 3 * 10.0)

    def test_kind_outside_the_deck_is_an_error(self):
        with self.assertRaises(KeyError):
            stats.deck_time([op("other", 0, 1)], "read", self.DECK)

    def test_no_ops_of_the_class_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.deck_time([op("scan", 0, 1)], "write", self.DECK)


class SelfTimeTest(unittest.TestCase):
    def test_layer_shares(self):
        spans = [
            {"id": 0, "parent": -1, "op": 0, "layer": "op", "t0": 0, "t1": 100},
            {"id": 1, "parent": 0, "op": 0, "layer": "api", "t0": 0, "t1": 60},
            {"id": 2, "parent": 1, "op": 0, "layer": "exec", "t0": 10, "t1": 50},
            {"id": 3, "parent": -1, "op": -1, "layer": "api", "t0": 200, "t1": 300},
        ]
        self.assertEqual(stats.layer_shares(spans), {"op": 40.0, "api": 20.0, "exec": 40.0})


if __name__ == "__main__":
    unittest.main()
