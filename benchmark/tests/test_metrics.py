"""Tests of the benchmark's pure helpers.

    python3 -m unittest discover -s benchmark/tests
"""

import math
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import compare  # noqa: E402
import metrics  # noqa: E402


def span(i, a, b, group="", **kw):
    return dict(id=i, start_ms=a, end_ms=b, group=group, ok=True, **kw)


def job(i, a, b, group="", stages=()):
    return dict(id=i, start_ms=a, end_ms=b, group=group, ok=True, stages=list(stages))


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        v, beyond = metrics.percentile(xs, 0.9)
        self.assertEqual((v, beyond), (90, 10))
        with self.assertRaises(metrics.TailTooShort):
            metrics.percentile(xs[:99], 0.9)

    def test_p50_nearest_rank(self):
        self.assertEqual(metrics.percentile(range(1, 21), 0.5), (10, 10))
        with self.assertRaises(metrics.TailTooShort):
            metrics.percentile(range(1, 20), 0.5)

    def test_failed_operations_sort_above_every_latency(self):
        xs = [10.0] * 95 + [metrics.FAILED] * 15
        v, _ = metrics.percentile(xs, 0.9)
        self.assertTrue(math.isinf(v))
        self.assertEqual(metrics.finite(v), metrics.FAILED_VALUE)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 20
        self.assertEqual(metrics.percentile(xs, 0.5), metrics.percentile(sorted(xs), 0.5))

    def test_highest_percentile_keeps_ten_beyond(self):
        self.assertEqual(metrics.highest_percentile(list(range(1, 101))), (90, 90, 10))
        pct, v, beyond = metrics.highest_percentile(list(range(1, 41)))
        self.assertEqual((pct, beyond), (75, 10))
        self.assertIsNone(metrics.highest_percentile(list(range(1, 11))))

    def test_trimmed_mean_drops_both_tails(self):
        self.assertEqual(metrics.trimmed_mean([1000] + [10] * 8 + [0]), 10)

    def test_trimmed_mean_never_hides_a_failure(self):
        xs = [10.0] * 20 + [metrics.FAILED]
        self.assertTrue(math.isinf(metrics.trimmed_mean(xs)))

    def test_quartiles_match_the_statistics_module(self):
        q1, med, q3 = metrics.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual(med, 5.5)
        self.assertLess(q1, med)
        self.assertLess(med, q3)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once_where_they_overlap(self):
        parent = span(1, 0, 100)
        kids = [span(2, 10, 30), span(3, 20, 40), span(4, 60, 70)]
        self.assertEqual(metrics.self_time(parent, kids), 100 - 30 - 10)

    def test_children_are_clipped_to_the_parent(self):
        parent = span(1, 50, 100)
        kids = [span(2, 0, 60), span(3, 90, 200)]
        self.assertEqual(metrics.self_time(parent, kids), 50 - 10 - 10)

    def test_no_children_is_the_whole_span(self):
        self.assertEqual(metrics.self_time(span(1, 3, 8), []), 5)

    def test_nested_levels_each_get_their_own_self_time(self):
        # op 0..100 > job 10..60 > stage 20..50
        stage = span(3, 20, 50)
        jb = span(2, 10, 60)
        op = span(1, 0, 100)
        self.assertEqual(metrics.self_time(jb, [stage]), 20)
        self.assertEqual(metrics.self_time(op, [jb]), 50)
        total = metrics.self_time(op, [jb]) + metrics.self_time(jb, [stage]) + 30
        self.assertEqual(total, 100)


class AttributionTest(unittest.TestCase):
    def test_job_group_decides_when_the_span_has_one(self):
        spans = [span(1, 0, 100, group="graft.sources/append/1"),
                 span(2, 100, 200, group="graft.sources/merge/2")]
        jobs = [job(10, 5, 50, "graft.sources/append/1"),
                # started inside op 1's window but tagged for op 2
                job(11, 90, 150, "graft.sources/merge/2"),
                job(12, 120, 130, "other")]
        got = metrics.attribute_jobs(spans, jobs)
        self.assertEqual([j["id"] for j in got[1]], [10])
        self.assertEqual([j["id"] for j in got[2]], [11])

    def test_time_window_decides_without_a_group(self):
        # generations inside one runLoop: (start, end] windows
        gens = [span(1, 0, 100), span(2, 100, 200)]
        jobs = [job(10, 0, 20), job(11, 50, 90), job(12, 100, 150), job(13, 150, 190),
                job(14, 250, 260)]
        got = metrics.attribute_jobs(gens, jobs)
        self.assertEqual([j["id"] for j in got[1]], [11, 12])
        self.assertEqual([j["id"] for j in got[2]], [13])

    def test_driver_gap_is_what_no_job_covers(self):
        op = span(1, 0, 100)
        jobs = [job(1, 10, 40), job(2, 30, 50), job(3, 90, 120)]
        self.assertEqual(metrics.driver_gap_ms(op, jobs), 100 - 40 - 10)

    def test_stage_totals_count_each_stage_once(self):
        stages = {1: dict(cpu_ns=5, gc_ms=1, shuffle_write=100, shuffle_read=0, spill=0,
                          tasks=4, records_read=7),
                  2: dict(cpu_ns=3, gc_ms=0, shuffle_write=0, shuffle_read=100, spill=0,
                          tasks=2, records_read=0)}
        jobs = [job(1, 0, 1, stages=[1]), job(2, 1, 2, stages=[1, 2])]
        tot = metrics.stage_totals(jobs, stages)
        self.assertEqual((tot["cpu_ns"], tot["tasks"]), (8, 6))
        mix = metrics.stage_totals(jobs, stages, lambda st: st["shuffle_write"] > 0)
        self.assertEqual(mix["cpu_ns"], 5)


class EndToEndTest(unittest.TestCase):
    def record(self, probe_ms):
        ops = [span(i, 0, ms, cls="append" if i < 3 else "point_read", timed=True,
                    kind="commit" if i < 3 else "read", layer="graft.sources")
               for i, ms in enumerate([100, 200, 300, 40, 50, 60])]
        return dict(workload="tables", spans=ops, setup=dict(setup_s=12.5),
                    samples=dict(host_probe_ms=probe_ms))

    def test_raw_figures_ignore_the_host_probe(self):
        raw = metrics.end_to_end(self.record([1.0, 2.0, 3.0]), scaled=False)
        self.assertEqual(raw, {"setup_s": 12.5, "primary_ms": 200.0, "secondary_ms": 50.0})

    def test_scaled_figures_divide_by_the_damped_host_factor(self):
        ref = metrics.HOST_PROBE_REF_MS
        slow = metrics.end_to_end(self.record([ref, 4 * ref, 4 * ref]))
        damp = 4 ** metrics.HOST_ELASTICITY
        self.assertAlmostEqual(slow["primary_ms"], 200.0 / damp)
        self.assertAlmostEqual(slow["secondary_ms"], 50.0 / damp)
        self.assertEqual(slow["setup_s"], 12.5)


class CompareTest(unittest.TestCase):
    def test_pairs_are_matched_by_seed(self):
        base = {1: 10.0, 2: 10.0, 3: 10.0}
        new = {1: 9.0, 2: 11.0, 3: 8.0, 4: 1.0}
        self.assertEqual(compare.pair_wins(base, new, "lower"), (1, 2))
        self.assertEqual(compare.pair_wins(base, new, "higher"), (2, 1))

    def test_runs_carry_the_raw_timings_beside_the_gated_ones(self):
        import json
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            for seed, trace in ((1, 0), (1, 1)):
                Path(d, f"ga-s{seed}-t{trace}.json").write_text(json.dumps(dict(
                    workload="ga", seed=seed, trace=trace,
                    end_to_end=dict(setup_s=9.0, primary_ms=300.0, secondary_ms=10.0),
                    raw=dict(setup_s=9.0, primary_ms=300.0, secondary_ms=20.0))))
            runs = compare.load_runs(d)
        self.assertEqual(runs, {"ga": {1: {"setup_s": 9.0, "primary_ms": 300.0,
                                           "secondary_ms": 10.0, "raw.primary_ms": 300.0,
                                           "raw.secondary_ms": 20.0}}})

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(compare.spread([10, 10, 10, 10]), 0.0)
        self.assertGreater(compare.spread([1, 10, 20, 30]), 1.0)


if __name__ == "__main__":
    unittest.main()
