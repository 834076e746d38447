"""Tests for the benchmark's arithmetic.

    python3 -m unittest discover -s lakebench -p 'test_*.py'
"""
import unittest

import metrics


def span(id, parent, start, end, name="x", layer="l", kind=""):
    return {"id": id, "parent": parent, "start": start, "end": end,
            "name": name, "layer": layer, "kind": kind}


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(metrics.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 9.1)
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 100), 10)

    def test_order_and_single_sample(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)
        self.assertIsNone(metrics.percentile([], 50))

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(metrics.geomean([4.0]), 4.0)
        self.assertIsNone(metrics.geomean([]))

    def test_samples_beyond_percentile(self):
        # p90 of 101 samples sits on rank 90: ten samples lie above it
        self.assertEqual(metrics.beyond(101, 90), 10)
        self.assertEqual(metrics.beyond(100, 90), 10)
        self.assertEqual(metrics.beyond(20, 90), 2)
        self.assertEqual(metrics.beyond(1, 50), 0)

    def test_read_samples_skip_cut_units(self):
        rec = {"units": [{"idx": 0, "traced": False}],
               "ops": [{"kind": "read", "ok": True, "unit": 0, "ms": 5.0, "traced": False},
                       {"kind": "read", "ok": True, "unit": 1, "ms": 9.0, "traced": False},
                       {"kind": "commit", "ok": True, "unit": 0, "ms": 7.0, "traced": False}]}
        self.assertEqual(metrics.read_samples(rec), [5.0])


class SelfTimeTest(unittest.TestCase):
    def test_union_length_merges_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_subtracts_direct_children_only(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 40, 60),
                 span(4, 2, 15, 20)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 50)  # children cover 10..60
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 20)
        self.assertEqual(st[4], 5)
        # self times of a tree partition the top-level span
        self.assertEqual(sum(st.values()), 100)

    def test_layer_self_ms_per_unit(self):
        rec = {"units": [{"traced": True}, {"traced": True}],
               "spans": [span(1, 0, 0, 10, layer="serve"),
                         span(2, 1, 2, 8, layer="spark")]}
        self.assertEqual(metrics.layer_self_ms(rec), {"serve": 2.0, "spark": 3.0})

    def test_containing_top_level_span(self):
        tops = [span(1, 0, 0, 10), span(2, 0, 20, 30)]
        self.assertEqual(metrics.containing(5, tops)["id"], 1)
        self.assertEqual(metrics.containing(30, tops)["id"], 2)
        self.assertIsNone(metrics.containing(15, tops))


class RatioTest(unittest.TestCase):
    def test_bytes_written_per_input_byte(self):
        # 100 rows written as 1000 bytes, then 20 merge rows: input is
        # 120 rows at 10 bytes each; 2400 data bytes is 2x amplification
        self.assertEqual(metrics.bytes_written_per_input_byte(2400, 1000, 100, 120), 2.0)

    def test_table_bytes_per_live_byte(self):
        self.assertEqual(metrics.table_bytes_per_live_byte(3000, 1000), 3.0)

    def test_scan_fraction(self):
        self.assertEqual(metrics.scan_fraction([(100, 1000), (300, 1000)]), 0.2)
        self.assertEqual(metrics.scan_fraction([(100, 0)]), 0.0)
        self.assertEqual(metrics.scan_fraction([]), 0.0)

    def test_overhead_ratio_is_per_operation(self):
        ops = [{"name": "a", "unit": 0, "ok": True, "traced": False, "ms": 10.0},
               {"name": "a", "unit": 1, "ok": True, "traced": True, "ms": 11.0},
               {"name": "b", "unit": 0, "ok": True, "traced": False, "ms": 100.0},
               {"name": "b", "unit": 1, "ok": True, "traced": True, "ms": 110.0},
               {"name": "c", "unit": 0, "ok": True, "traced": False, "ms": 50.0},
               {"name": "c", "unit": 1, "ok": True, "traced": True, "ms": 20.0},
               {"name": "d", "unit": 0, "ok": True, "traced": False, "ms": 5.0}]
        # ratios 1.1, 1.1, 0.4 (d has no traced sample): median 1.1
        self.assertAlmostEqual(metrics.overhead_ratio(ops), 1.1)


class CompareTest(unittest.TestCase):
    def result(self, **prov):
        p = {"cpus": 4, "sf": "0.1", "workload": "dashboard_warm"}
        p.update(prov)
        return {"provenance": p}

    def test_same_hardware_compares(self):
        self.assertIsNone(metrics.comparable(self.result(), self.result(seed=2)))

    def test_refuses_different_cpus(self):
        why = metrics.comparable(self.result(), self.result(cpus=32))
        self.assertIn("cpus", why)

    def test_refuses_different_sf(self):
        self.assertIn("sf", metrics.comparable(self.result(), self.result(sf="0.01")))


if __name__ == "__main__":
    unittest.main()
