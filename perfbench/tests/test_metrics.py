"""Specs for the benchmark's pure helpers.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import metrics as M  # noqa: E402


class MetricNames(unittest.TestCase):
    def test_accepts_letters_digits_dot_dash_underscore(self):
        for name in ["setup_s", "crawl.CrawlRound.busy_s", "query.dedup-x_s", "p50", "9lives"]:
            self.assertEqual(M.check_name(name), name)

    def test_rejects_other_characters_and_bad_starts(self):
        for name in ["", "a b", "a/b", "ms%", "_lead", ".lead", "x" * 65, "é"]:
            with self.assertRaises(ValueError):
                M.check_name(name)


class OrderStatistics(unittest.TestCase):
    def test_median_and_quartiles_match_statistics_module(self):
        values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q1, q2, q3 = statistics.quantiles(values, n=4)
        self.assertEqual(M.quartiles(values), (q1, q2, q3))
        self.assertEqual(M.median(values), 5.5)
        self.assertAlmostEqual(M.spread(values), (q3 - q1) / q2)

    def test_single_value_has_zero_spread(self):
        self.assertEqual(M.quartiles([4.0]), (4.0, 4.0, 4.0))
        self.assertEqual(M.spread([4.0]), 0.0)

    def test_tail_percentile_leaves_ten_samples_beyond(self):
        values = list(range(1, 81))  # 80 samples
        pct, v = M.tail_percentile(values)
        self.assertEqual((pct, v), (87, 70))
        self.assertEqual(sum(1 for x in values if x > v), 10)

    def test_tail_percentile_needs_more_than_ten_samples(self):
        self.assertIsNone(M.tail_percentile(list(range(10))))
        self.assertEqual(M.tail_percentile(list(range(11))), (9, 0))


class BusyTime(unittest.TestCase):
    def test_overlapping_intervals_count_once(self):
        self.assertEqual(M.interval_union([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching_intervals(self):
        self.assertEqual(M.interval_union([(0, 10), (2, 3), (10, 12)]), 12)

    def test_empty_and_degenerate_intervals(self):
        self.assertEqual(M.interval_union([]), 0)
        self.assertEqual(M.interval_union([(3, 3), (5, 4)]), 0)

    def test_order_does_not_matter(self):
        ivs = [(7, 9), (0, 2), (1, 4), (8, 12)]
        self.assertEqual(M.interval_union(ivs), M.interval_union(list(reversed(ivs))))


def job(start, end, site, cpu=0, shuffle=0):
    return {"start_ms": start, "end_ms": end, "call_site": site,
            "task_cpu_ns": cpu, "shuffle_write_bytes": shuffle}


def span(start, end, layer, timed=False, parent=-1):
    return {"start_ms": start, "end_ms": end, "layer": layer, "timed": timed,
            "parent": parent, "name": layer}


class CallSiteLayers(unittest.TestCase):
    def test_program_files_map_to_their_layer(self):
        cases = {
            "saveAsTable at SnapshotTable.scala:90": "store.SnapshotTable",
            "collect at CrawlRound.scala:197": "crawl.CrawlRound",
            "localCheckpoint at Crawler.scala:37": "crawl.Crawler",
            "collect at Seen.scala:116": "crawl.Seen",
            "collect at VectorOps.scala:183": "queries.VectorOps",
        }
        for site, layer in cases.items():
            self.assertEqual(M.layer_of(site, "harness"), layer, site)

    def test_other_call_sites_take_the_span_layer(self):
        pool = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"
        self.assertEqual(M.layer_of(pool, "store.SnapshotTable"), "store.SnapshotTable")
        self.assertEqual(M.layer_of("save at Registry.scala:51", "queries.TextOps"),
                         "queries.TextOps")
        self.assertEqual(M.layer_of("", None), M.HARNESS)

    def test_jobs_outside_timed_spans_are_the_harness(self):
        spans = [span(0, 100, "crawl.CrawlRound", timed=True),
                 span(10, 50, "crawl.CrawlRound", parent=0),
                 span(200, 300, "harness")]
        jobs = [job(20, 40, "head at Crawl.scala:1", cpu=2e9, shuffle=7),
                job(30, 60, "localCheckpoint at Crawler.scala:37", cpu=1e9),
                job(210, 250, "collect at CrawlRound.scala:448", cpu=5e9)]
        layers = [layer for _, layer in M.attribute(jobs, spans)]
        self.assertEqual(layers, ["crawl.CrawlRound", "crawl.Crawler", "harness"])
        totals = M.layer_totals(jobs, spans)
        self.assertEqual(set(totals), set(M.LAYERS))
        self.assertEqual(totals["crawl.CrawlRound"],
                         {"busy_s": 0.02, "task_cpu_s": 2.0, "shuffle_bytes": 7})
        self.assertEqual(totals["harness"]["task_cpu_s"], 5.0)
        self.assertEqual(totals["store.SnapshotTable"]["busy_s"], 0.0)


class PhaseBusy(unittest.TestCase):
    def test_only_jobs_inside_the_windows_count(self):
        spans = [span(0, 100, "crawl.CrawlRound", timed=True),
                 span(200, 300, "store.SnapshotTable", timed=True)]
        jobs = [job(10, 30, "collect at CrawlRound.scala:1"),
                job(20, 50, "collect at CrawlRound.scala:2"),
                job(210, 260, "saveAsTable at SnapshotTable.scala:90")]
        self.assertEqual(M.phase_busy(jobs, spans, spans[:1]), {"crawl.CrawlRound": 0.04})
        self.assertEqual(M.phase_busy(jobs, spans, spans[1:]), {"store.SnapshotTable": 0.05})


def registry_raw(prints):
    return {"values": {"queries": [{"name": n, "ok": True, "print": p}
                                   for n, p in prints.items()]}}


class Goldens(unittest.TestCase):
    def setUp(self):
        import tempfile
        self.dir = tempfile.TemporaryDirectory()
        self.saved, checks.GOLDENS = checks.GOLDENS, self.dir.name

    def tearDown(self):
        checks.GOLDENS = self.saved
        self.dir.cleanup()

    def test_registry_fingerprints_must_match(self):
        checks.record_registry(registry_raw({"a": [3, 11, 12], "b": [1, 5, 6]}), 4)
        ok = checks.check_registry(registry_raw({"a": [3, 11, 12], "b": [1, 5, 6]}), 4)
        self.assertTrue(all(c["ok"] for c in ok))
        bad = checks.check_registry(registry_raw({"a": [3, 11, 13], "b": [1, 5, 6]}), 4)
        self.assertEqual([c["ok"] for c in bad], [False, True])

    def test_a_seed_without_goldens_fails(self):
        checks.record_registry(registry_raw({"a": [3, 11, 12]}), 4)
        self.assertFalse(checks.check_registry(registry_raw({"a": [3, 11, 12]}), 5)[0]["ok"])

    def test_unstable_queries_fall_back_to_row_count(self):
        checks.record_registry(registry_raw({"a": [3, 11, 12]}), 4)
        checks.record_registry(registry_raw({"a": [3, 99, 98]}), 4)
        self.assertEqual(checks.load_goldens("registry")["row_count_only"], ["a"])
        self.assertTrue(checks.check_registry(registry_raw({"a": [3, 7, 7]}), 4)[0]["ok"])
        self.assertFalse(checks.check_registry(registry_raw({"a": [4, 11, 12]}), 4)[0]["ok"])

    def test_crawl_rounds_and_seen_set(self):
        def raw(popped, seen):
            return {"values": {
                "rounds": [{"phase": "p", "round": r, "popped": n, "page_chars": 0,
                            "page_metrics": 0} for r, n in enumerate(popped)],
                "seen": {"p": seen}}}
        checks.record_crawl(raw([2, 9, 10], [21, 5, 6]), 1)
        self.assertTrue(all(c["ok"] for c in checks.check_crawl(raw([2, 9, 10], [21, 5, 6]), 1)))
        self.assertFalse(all(c["ok"] for c in checks.check_crawl(raw([2, 9, 10], [21, 5, 7]), 1)))
        longer = checks.check_crawl(raw([2, 9, 10, 10], [31, 5, 6]), 1)
        self.assertEqual([c["ok"] for c in longer], [True, True, True, False, False])


if __name__ == "__main__":
    unittest.main()
