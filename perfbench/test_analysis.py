"""Tests of the benchmark's analysis code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import analysis


def span(i, parent, start, end, kind="x", name="s", attrs=None):
    return {"id": i, "parent": parent, "name": name, "kind": kind,
            "start": start, "end": end, "attrs": attrs or {}}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(analysis.tail_percentile(19))
        self.assertEqual(analysis.tail_percentile(20), 50)
        self.assertEqual(analysis.tail_percentile(39), 50)
        self.assertEqual(analysis.tail_percentile(40), 75)
        self.assertEqual(analysis.tail_percentile(99), 75)
        self.assertEqual(analysis.tail_percentile(100), 90)
        self.assertEqual(analysis.tail_percentile(1000), 99)
        self.assertEqual(analysis.tail_percentile(10000), 99.9)

    def test_percentile_interpolates(self):
        xs = list(range(1, 11))
        self.assertEqual(analysis.percentile(xs, 50), 5.5)
        self.assertEqual(analysis.percentile(xs, 0), 1)
        self.assertEqual(analysis.percentile(xs, 100), 10)
        self.assertAlmostEqual(analysis.percentile(xs, 90), 9.1)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 2, 15, 20)]
        st = analysis.self_times(spans)
        self.assertEqual(st[1], 100 - 50)  # children cover 10..60
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)

    def test_child_outside_parent_is_clipped(self):
        st = analysis.self_times([span(1, 0, 0, 10), span(2, 1, 5, 30)])
        self.assertEqual(st[1], 5)

    def test_self_times_sum_to_root_duration(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 10, 20), span(4, 1, 60, 90)]
        self.assertEqual(sum(analysis.self_times(spans).values()), 100)


class FilesToBatches(unittest.TestCase):
    def batches(self, rows):
        return [{"batch_id": i, "num_input_rows": r, "start_ms": 1000 * i,
                 "duration_ms": {"triggerExecution": 500}} for i, r in enumerate(rows)]

    def test_cumulative_rows_cover_files_in_order(self):
        # files of 25 rows; batch 0 reads two files, batch 1 none, batch 2 three
        got = analysis.files_to_batches([25] * 5, self.batches([50, 0, 75]))
        self.assertEqual(got, [0, 0, 2, 2, 2])

    def test_uncovered_file(self):
        got = analysis.files_to_batches([25, 25, 25], self.batches([25, 25]))
        self.assertEqual(got, [0, 1, None])

    def test_stream_p50_needs_twenty_samples(self):
        def run(n):
            return {"traced": False, "batches": self.batches([25] * n),
                    "rows_per_file": [25] * n, "due_ms": [1000 * i for i in range(n)]}
        self.assertEqual(analysis.latency_p50(run(19)), (None, 19, 0))
        self.assertEqual(analysis.latency_p50(run(20)), (0.5, 20, 0))
        e2e = analysis.end_to_end_stream({"runs": [run(20)], "setup_s": 1.0, "heap_live_mb": 1.0})
        self.assertEqual(e2e["suite_s"], 19.5)

    def test_latency_from_due_time_to_batch_end(self):
        run = {"batches": self.batches([25, 25]), "rows_per_file": [25, 25],
               "due_ms": [100, 900]}
        self.assertEqual(analysis.file_latencies(run), [0.4, 0.6])


class Failures(unittest.TestCase):
    def passes(self):
        return [{"label": f"pass {i}", "traced": False, "wall_s": 3.0,
                 "queries": {"a": {"build_s": 0.5, "action_s": 1.0},
                             "b": {"build_s": 0.1, "action_s": 0.2}}} for i in (1, 2)]

    def test_failed_query_is_never_a_time(self):
        self.assertEqual(analysis.pass_times(self.passes(), failed={"b"}), [1.5, 1.5])
        result = {"passes": self.passes(), "setup_s": 9.0, "heap_live_mb": 100.0}
        self.assertEqual(analysis.end_to_end_batch(result, failed={"b"})["suite_s"], 1.5)
        self.assertAlmostEqual(analysis.end_to_end_batch(result, failed=set())["suite_s"], 1.8)

    def test_failed_query_has_no_layer_time(self):
        spans = [span(1, 0, 0, 1000, "pass", "pass 1"), span(2, 1, 0, 600, "query", "q1")]
        m = analysis.layer_metrics({"failures": {"q1": "boom"}}, spans,
                                   ["q.q1.wall_s", "n_jobs"])
        self.assertIsNone(m["q.q1.wall_s"])
        self.assertEqual(m["n_jobs"], 0)

    def test_failure_counts_each_query_once(self):
        self.assertEqual(analysis.failure_counts(["a", "b", "c"], {"a": "boom"},
                                                 {"a": ["x"], "c": ["y"]}), (3, 2))


class Layers(unittest.TestCase):
    def test_in_job_time_and_driver_gap_per_query(self):
        spans = [span(1, 0, 0, 1000, "pass", "pass 1"),
                 span(2, 1, 0, 600, "query", "q1"),
                 span(3, 2, 0, 100, "build", "build"),
                 span(4, 2, 100, 600, "action", "action"),
                 span(5, 4, 150, 350, "job"), span(6, 4, 300, 500, "job"),
                 span(7, 5, 160, 340, "stage", attrs={"tasks": 4, "task_cpu_s": 0.5}),
                 span(8, 2, 600, 600, "counters", attrs={"n_exchanges": 2, "cache_blocks_mb": 3})]
        m = analysis.layer_metrics({}, spans, ["n_jobs", "in_job_s", "driver_gap_s", "n_tasks",
                                               "n_exchanges", "cache_blocks_mb", "build_s",
                                               "q.q1.driver_gap_s", "stream.n_batches"])
        self.assertEqual(m["n_jobs"], 2)
        self.assertAlmostEqual(m["in_job_s"], 0.35)
        self.assertAlmostEqual(m["driver_gap_s"], 0.25)
        self.assertAlmostEqual(m["q.q1.driver_gap_s"], 0.25)
        self.assertEqual(m["n_tasks"], 4)
        self.assertEqual(m["n_exchanges"], 2)
        self.assertEqual(m["cache_blocks_mb"], 3)
        self.assertAlmostEqual(m["build_s"], 0.1)
        self.assertEqual(m["stream.n_batches"], 0)


if __name__ == "__main__":
    unittest.main()
