"""Specs for the benchmark's own arithmetic (perfbench/metrics.py).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import metrics


def span(i, name, parent, start, end, kind="layer"):
    return {"id": i, "name": name, "kind": kind, "parent": parent,
            "start_ms": start, "end_ms": end}


def job(i, start, end, tag, run_ms=0):
    return {"job": i, "start_ms": start, "end_ms": end, "tag": tag, "stages": 1, "tasks": 2,
            "run_ms": run_ms, "gc_ms": 0, "shuffle_write": 0, "shuffle_read": 0, "spill": 0}


class TailPercentile(unittest.TestCase):
    def test_needs_more_samples_than_the_tail(self):
        self.assertIsNone(metrics.tail_percentile(list(range(10))))
        self.assertIsNone(metrics.tail_percentile([]))

    def test_leaves_exactly_ten_samples_beyond(self):
        pct, value, n = metrics.tail_percentile([float(x) for x in range(1, 12)])
        self.assertEqual((value, n), (1.0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)
        xs = [float(x) for x in range(100, 0, -1)]  # unsorted input
        pct, value, n = metrics.tail_percentile(xs)
        self.assertEqual((pct, value, n), (90.0, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_other_tail_sizes(self):
        self.assertEqual(metrics.tail_percentile([3.0, 1.0, 2.0], beyond=1), (200.0 / 3, 2.0, 3))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(0, "run", -1, 0, 100), span(1, "a", 0, 10, 50), span(2, "b", 0, 30, 70),
                 span(3, "c", 0, 90, 130)]
        st = metrics.self_times(spans)
        # children cover [10, 70] and [90, 100] inside the parent: 70 ms
        self.assertAlmostEqual(st[0], 30.0)
        self.assertAlmostEqual(st[1], 40.0)
        self.assertAlmostEqual(st[3], 40.0)

    def test_nested_child_inside_sibling(self):
        spans = [span(0, "run", -1, 0, 10), span(1, "a", 0, 0, 10), span(2, "b", 0, 2, 4)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 0.0)

    def test_covered(self):
        self.assertEqual(metrics.covered([], 0, 10), 0.0)
        self.assertEqual(metrics.covered([(-5, 3), (2, 4), (8, 20)], 0, 10), 6.0)


class LinearFit(unittest.TestCase):
    def test_recovers_fixed_and_per_url_terms(self):
        xs = [1, 10, 100, 1000, 5000]
        ys = [0.9 + 2e-4 * x for x in xs]
        a, b = metrics.linear_fit(xs, ys)
        self.assertAlmostEqual(a, 0.9)
        self.assertAlmostEqual(b, 2e-4)

    def test_least_squares_with_noise(self):
        a, b = metrics.linear_fit([0, 1, 2, 3], [1, 3, 2, 4])
        self.assertAlmostEqual(b, 0.8)
        self.assertAlmostEqual(a, 1.3)

    def test_degenerate_inputs(self):
        self.assertEqual(metrics.linear_fit([], []), (0.0, 0.0))
        self.assertEqual(metrics.linear_fit([5, 5], [1.0, 3.0]), (2.0, 0.0))


class Ratios(unittest.TestCase):
    def test_fresh_ratio(self):
        self.assertAlmostEqual(metrics.fresh_ratio([3, 5, 0], 16), 0.5)
        self.assertEqual(metrics.fresh_ratio([3], 0), 0.0)

    def test_failed_share(self):
        self.assertEqual(metrics.failed_share(4000, 0), 0.0)
        self.assertAlmostEqual(metrics.failed_share(4000, 1000), 0.25)
        self.assertEqual(metrics.failed_share(0, 0), 0.0)


class JobParents(unittest.TestCase):
    spans = [
        span(0, "pass", -1, 0, 1000, kind="pass"),
        span(1, "CrawlEngine.run", 0, 0, 900),
        span(2, "generation 0", 1, 100, 400, kind="generation"),
        span(3, "generation 1", 1, 450, 880, kind="generation"),
        span(4, "CrawlEngine.results", 0, 900, 1000),
        span(5, "warm-up", -1, -500, -10, kind="bench"),
    ]

    def test_main_thread_job_goes_to_its_generation(self):
        p = metrics.assign_parents(self.spans, [job(1, 120, 200, 1), job(2, 410, 430, 1)])
        self.assertEqual(p, {1: 2, 2: 1})

    def test_job_of_a_check_stays_with_its_call(self):
        self.assertEqual(metrics.assign_parents(self.spans, [job(3, 950, 990, 4)]), {3: 4})

    def test_stale_tag_goes_under_the_covering_run(self):
        # the results-write thread still carries the warm-up's span id
        p = metrics.assign_parents(self.spans, [job(4, 300, 600, 5), job(5, 950, 960, 5)])
        self.assertEqual(p, {4: 1, 5: 4})

    def test_measured_jobs_are_grouped_by_pass_and_call(self):
        jobs = [job(1, 120, 200, 1), job(3, 950, 990, 4), job(4, 300, 600, 5)]
        parents = metrics.assign_parents(self.spans, jobs)
        got = metrics.measured_jobs(self.spans, jobs, parents)
        self.assertEqual({k: {c: [j["job"] for j in js] for c, js in v.items()}
                          for k, v in got.items()},
                         {0: {"CrawlEngine.run": [1, 4]}})


class Metrics(unittest.TestCase):
    def raw(self):
        gens = [{"gen": 0, "batchCount": 10, "freshCount": 40, "wallMillis": 1000},
                {"gen": 1, "batchCount": 40, "freshCount": 0, "wallMillis": 1600}]
        crawl = {"items": 50, "ops": 50, "ok": True, "wall_s": 3.0, "cpu_s": 6.0,
                 "generations": 2, "manifests": gens, "link_count": 80, "seen_keys": 50,
                 "compaction_writes": 0, "compaction_rows": 0,
                 "bytes": {"results": 5000, "frontier": 500, "seen": 0, "bloom": 100}}
        return {
            "nproc": 4, "launch_epoch_ms": 1000, "main_epoch_ms": 1500, "peak_rss_mb": 900.0,
            "setup": {"session_s": 4.0, "inputs_s": 0.3, "gen_s": [1.0, 0.1, 0.2], "prepare_s": [3.0, 1.0, 0.9],
                      "warmup_s": 6.0},
            "passes": [dict(crawl, phase="warmup", traced=True, span=-1, wall_s=5.0),
                       dict(crawl, phase="measured", traced=False, span=-1, wall_s=2.0),
                       dict(crawl, phase="measured", traced=True, span=0, wall_s=2.2)],
            "probes": {"core": {"extract_ms_per_page": 4.0, "pages_per_s_4t": 50.0}},
            "spans": [span(0, "pass", -1, 0, 2200, kind="pass"),
                      span(1, "CrawlEngine.run", 0, 0, 2200)],
            "jobs": [job(1, 10, 20, 1, run_ms=4400), job(2, 30, 40, 1, run_ms=2200)],
        }

    def test_end_to_end(self):
        m = metrics.e2e_metrics(self.raw())
        self.assertAlmostEqual(m["urls_per_s"], (50 / 2.0 + 50 / 2.2) / 2)  # median of pass rates
        self.assertAlmostEqual(m["pipeline_s"], 2.1)
        self.assertAlmostEqual(m["setup_s"], 0.5 + 4.0 + 0.3 + 1.1 + 6.0)

    def test_failed_passes_are_left_out_of_timings(self):
        raw = self.raw()
        raw["passes"][1]["ok"] = False
        self.assertAlmostEqual(metrics.e2e_metrics(raw)["pipeline_s"], 2.2)
        self.assertAlmostEqual(metrics.layer_metrics(raw)["failed_share"], 50 / 150)

    def test_layers(self):
        m = metrics.layer_metrics(self.raw())
        self.assertEqual(set(m), set(metrics.LAYER_UNITS))
        self.assertAlmostEqual(m["engine.fixed_s_per_gen"], 0.8)
        self.assertAlmostEqual(m["engine.us_per_url"], 20000.0)
        self.assertAlmostEqual(m["engine.between_gen_share"], 1 - 2.6 / 2.2)
        self.assertAlmostEqual(m["frontier.fresh_ratio"], 0.5)
        self.assertAlmostEqual(m["core.kernel_share"], 50 / 50.0 / 2.2)
        self.assertAlmostEqual(m["spark.executor_busy_share"], 6.6 / (2.2 * 4))
        self.assertAlmostEqual(m["engine.jobs_per_gen"], 1.0)
        self.assertAlmostEqual(m["trace.overhead_share"], 0.1)
        self.assertEqual(m["engine.batch_rows_max"], 40)
        self.assertEqual(m["engine.gen_s_tail"], 0.0)  # two samples: no tail
        self.assertEqual(m["pipeline.pagerank_s"], 0.0)  # layer not on this workload
        self.assertEqual(m["failed_share"], 0.0)


if __name__ == "__main__":
    unittest.main()
