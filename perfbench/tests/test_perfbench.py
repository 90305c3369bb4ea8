"""Unit tests for the benchmark's own arithmetic, stub and checks.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest
import urllib.error
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check    # noqa: E402
import metrics  # noqa: E402
import stub     # noqa: E402

import pandas as pd  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_matches_linear_interpolation(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.percentile(xs, 50), 3)
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 100), 5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(metrics.percentile([10, 20], 25), 12.5)

    def test_geomean_weighs_ops_equally(self):
        self.assertAlmostEqual(metrics.geomean([100.0, 400.0]), 200.0)
        self.assertAlmostEqual(metrics.geomean([5.0]), 5.0)

    def test_single_value_and_empty(self):
        self.assertEqual(metrics.percentile([7], 90), 7)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0)

    def test_self_time_clips_children_to_the_span(self):
        # parallel jobs overlapping each other and spilling past the span
        self.assertEqual(metrics.self_time(0, 100, [(10, 30), (20, 40), (90, 120)]), 60)
        self.assertEqual(metrics.self_time(0, 100, []), 100)
        self.assertEqual(metrics.self_time(0, 100, [(-5, 200)]), 0)

    def test_layer_breakdown_sums_to_sample_wall(self):
        s = {"t0": 0, "t1": 100, "t2": 130, "t3": 200}
        jobs = [{"phase": "build", "stream": True, "s": 10, "e": 30},
                {"phase": "build", "stream": False, "s": 25, "e": 60},
                {"phase": "exec", "stream": False, "s": 140, "e": 190}]
        batches = [{"s": 5, "e": 35}]
        br = metrics.layer_breakdown(s, jobs, batches)
        self.assertEqual(br["stream"], 30)         # 5..35
        self.assertEqual(br["exec"], 25 + 70)      # eager 35..60, exec phase
        self.assertEqual(br["plan"], 30)
        self.assertEqual(br["entry"], 100 - 30 - 25)
        self.assertEqual(sum(br.values()), 200)


class StealShareTest(unittest.TestCase):
    def test_share_of_stolen_ticks(self):
        import run
        a = "cpu  100 0 10 500 0 0 0 10 0 0"
        b = "cpu  160 0 20 510 0 0 0 30 0 0"
        self.assertEqual(run.steal_share(a, b), 0.2)   # 20 of 100 ticks
        self.assertIsNone(run.steal_share("", b))


ROWS = {e: 3000 for e in stub.ENTITIES}


class FaultScheduleTest(unittest.TestCase):
    def test_same_seed_same_schedule(self):
        a = stub.fault_schedule(7, ROWS, 500, 1440, 3)
        b = stub.fault_schedule(7, ROWS, 500, 1440, 3)
        self.assertEqual(a, b)
        self.assertNotEqual(a, stub.fault_schedule(8, ROWS, 500, 1440, 3))

    def test_faults_are_recoverable_and_fixed_in_number(self):
        for seed in range(20):
            plan = stub.fault_schedule(seed, ROWS, 500, 1440, 3)
            self.assertEqual(len(plan), 8)
            self.assertEqual(sorted(st for st, _ in plan.values()), [429] * 4 + [503] * 4)
            self.assertTrue(all(1 <= n <= 3 for _, n in plan.values()))

    def test_faults_land_on_requested_pages(self):
        starts = set(stub.page_starts(3000, 500, 1440))
        self.assertEqual(sorted(starts)[:5], [0, 500, 1000, 1440, 1940])
        for (e, s) in stub.fault_schedule(3, ROWS, 500, 1440, 3):
            self.assertIn(e, stub.ENTITIES)
            self.assertIn(s, starts)


class StubTest(unittest.TestCase):
    def test_serves_pages_and_replays_faults_per_drain(self):
        recs = {"customer": stub.changelog(1, "customer", 1000)}
        srv = stub.Stub(recs, {("customer", 500): (429, 2)}, max_inflight=2).start()
        try:
            def get(offset, lo=0):
                url = (f"{srv.url}/customer?limit=500&offset={offset}&where=ts_us:GTE:"
                       f"{stub.BASE_US + lo * stub.STEP_US},ts_us:LT:{stub.BASE_US}"
                       "&order=ts_us:ASC")
                try:
                    with urllib.request.urlopen(url) as r:
                        return r.status, json.loads(r.read())["response"]
                except urllib.error.HTTPError as e:
                    return e.code, None
            st, page = get(0)
            self.assertEqual((st, page), (200, recs["customer"][:500]))
            for _ in range(2):   # two drains: same faults each time
                self.assertEqual(get(500)[0], 429)
                self.assertEqual(get(500)[0], 429)
                st, page = get(0, lo=500)
                self.assertEqual((st, page), (200, recs["customer"][500:1000]))
        finally:
            srv.stop()
        self.assertLessEqual(srv.inflight_max, 2)
        self.assertEqual([r["status"] for r in srv.log], [200, 429, 429, 200, 429, 429, 200])


class ExpectedCompactionTest(unittest.TestCase):
    def test_changelog_is_seeded_with_positional_timestamps(self):
        a = stub.changelog(5, "invoice", 2000)
        self.assertEqual(a, stub.changelog(5, "invoice", 2000))
        self.assertNotEqual(a, stub.changelog(6, "invoice", 2000))
        self.assertEqual([r["ts_us"] for r in a[:3]],
                         [stub.BASE_US, stub.BASE_US + stub.STEP_US,
                          stub.BASE_US + 2 * stub.STEP_US])
        ids = [r["id"] for r in a]
        self.assertLess(len(set(ids)), len(ids))   # updates re-emit earlier ids

    def test_latest_version_wins_per_entity_and_id(self):
        recs = {
            "payment": [
                {"id": 1, "ts_us": 10, "value": 1.0, "category": "a"},
                {"id": 2, "ts_us": 20, "value": 2.0, "category": 'b "q"'},
                {"id": 1, "ts_us": 30, "value": 3.0, "category": "c\\d"}],
            "customer": [{"id": 1, "ts_us": 5, "value": 9.5, "category": "z"}]}
        out = stub.expected_compaction(recs)
        self.assertEqual(out, [
            {"topic": "chargeover.customer", "key": "1", "_entity_type": "customer",
             "id": 1, "ts_us": 5, "value": 9.5, "category_cast": '"z"'},
            {"topic": "chargeover.payment", "key": "1", "_entity_type": "payment",
             "id": 1, "ts_us": 30, "value": 3.0, "category_cast": '"c\\\\d"'},
            {"topic": "chargeover.payment", "key": "2", "_entity_type": "payment",
             "id": 2, "ts_us": 20, "value": 2.0, "category_cast": '"b \\"q\\""'}])

    def test_row_count_is_distinct_ids(self):
        recs = {e: stub.changelog(2, e, 1500) for e in stub.ENTITIES}
        out = stub.expected_compaction(recs)
        self.assertEqual(len(out), sum(len({r["id"] for r in v}) for v in recs.values()))


class FrameCompareTest(unittest.TestCase):
    def test_order_insensitive_exact_compare(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, None]})
        b = pd.DataFrame({"v": [None, 0.5], "k": [2, 1]})
        self.assertIsNone(check.frames_equal(a, b))
        c = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
        self.assertIn("row", check.frames_equal(a, c))
        self.assertIn("rows", check.frames_equal(a, a.head(1)))


if __name__ == "__main__":
    unittest.main()
