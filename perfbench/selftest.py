"""Self-tests of the benchmark's own code.

    python3 perfbench/selftest.py

Checks the statistics helpers and the result summarizer here, then builds
and runs the Scala checker self-tests (perfbench/scala/SelfTest.scala),
which feed each output checker a corrupted output and expect a rejection.
"""

import os
import statistics
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import run  # noqa: E402
from stats import fail_ratio, median, quartiles, spread  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(median([4.0, 1.0, 3.0, 2.0]), 2.5)
        with self.assertRaises(ValueError):
            median([])

    def test_quartiles_match_statistics_quantiles(self):
        vs = [1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0, 128.0, 256.0, 512.0]
        q = statistics.quantiles(vs, n=4)
        self.assertEqual(quartiles(vs), (q[0], q[2]))
        self.assertEqual(quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (1.5, 4.5))

    def test_spread(self):
        self.assertAlmostEqual(spread([1.0, 2.0, 3.0, 4.0, 5.0]), 3.0 / 3.0)
        self.assertEqual(spread([2.0] * 5), 0.0)

    def test_fail_ratio(self):
        self.assertEqual(fail_ratio(0, 9), 0.0)
        self.assertAlmostEqual(fail_ratio(3, 12), 0.25)
        with self.assertRaises(ValueError):
            fail_ratio(0, 0)


def raw_result(traced_jobs_in_window=5, problems=()):
    def op(name, jobs, probs=()):
        return {"name": name, "wall_s": 1.0, "build_s": 0.4,
                "materialize_s": 0.6, "problems": list(probs),
                "digest": "d", "jobs": jobs, "tasks": 2 * jobs,
                "driver_gap_s": 0.1, "exec_cpu_s": 1.0, "busy_frac": 0.5,
                "shuffle_write_mb": 1.0, "spill_mb": 0.0, "input_mb": 1.0,
                "output_mb": 0.5}
    passes = []
    for i in range(4):
        traced = i % 2 == 1
        passes.append({
            "traced": traced, "pass_s": 3.0 + (0.3 if traced else 0.0),
            "gc_s": 0.1, "jobs_in_window": traced_jobs_in_window if traced else -1,
            "ops": [op("a", 1, problems if i == 0 else ()), op("b", 2),
                    op("c", 2)]})
    return {"workload": "w", "cores": 4, "setup_s": 4.0,
            "peak_rss_mb": 900.0, "persisted_rdds_end": 1,
            "untagged_jobs": 0, "passes": passes}


class SummarizeTest(unittest.TestCase):
    def test_end_to_end(self):
        correct, attempted, failed, m = run.summarize(raw_result(), False)
        self.assertEqual((correct, attempted, failed), (True, 12, 0))
        self.assertEqual(m["setup_s"]["value"], 4.0)
        self.assertEqual(m["pass_s"]["value"], 3.15)
        self.assertEqual(set(m), {"setup_s", "pass_s"})

    def test_failed_check_counts(self):
        correct, attempted, failed, _ = run.summarize(
            raw_result(problems=["bad"]), False)
        self.assertEqual((correct, attempted, failed), (False, 12, 1))
        _, _, _, m = run.summarize(raw_result(problems=["bad"]), True)
        self.assertAlmostEqual(m["fail_ratio"]["value"], 1 / 12)

    def test_traced(self):
        correct, _, _, m = run.summarize(raw_result(), True)
        self.assertTrue(correct)
        self.assertEqual(m["jobs"]["value"], 5)
        self.assertEqual(m["op2.jobs"]["value"], 2)
        self.assertEqual(m["op3_s"]["value"], 1.0)
        self.assertAlmostEqual(m["trace_overhead"]["value"], 3.3 / 3.0)
        self.assertEqual(m["peak_rss_mb"]["value"], 900.0)

    def test_jobs_mismatch_is_incorrect(self):
        correct, _, _, _ = run.summarize(raw_result(traced_jobs_in_window=6),
                                         True)
        self.assertFalse(correct)


if __name__ == "__main__":
    result = unittest.main(exit=False).result
    ok = result.wasSuccessful()
    classpath = build.build()
    ok = subprocess.run(["java", "-cp", classpath,
                         "perfbench.SelfTest"]).returncode == 0 and ok
    sys.exit(0 if ok else 1)
