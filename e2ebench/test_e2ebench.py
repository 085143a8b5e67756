"""Self-checks of the benchmark harness.

    python3 e2ebench/test_e2ebench.py                     # all checks
    python3 e2ebench/test_e2ebench.py PercentileTest      # one class

The arithmetic checks need no Spark. The smoke runs drive each workload
end to end through run.py on a corpus of 500 documents (the size of the
sf0.001 `documents` fixture) and a short window; they build the harness
on first use.
"""

import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import metrics as M  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.quantile(xs, 0.5), 50)
        self.assertEqual(M.quantile(xs, 0.9), 90)
        self.assertEqual(M.quantile(xs, 1.0), 100)
        self.assertEqual(M.quantile([7], 0.99), 7)
        self.assertEqual(M.quantile([3, 1, 2], 0.5), 2)

    def test_tail_keeps_ten_samples_beyond(self):
        # 1000 samples: p99 has exactly ten beyond it
        q, v = M.tail(list(range(1, 1001)), 0.99)
        self.assertEqual((q, v), (0.99, 990))
        # 100 samples: p99 would have one beyond, so p90 is reported
        q, v = M.tail(list(range(1, 101)), 0.99)
        self.assertAlmostEqual(q, 0.9)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in range(1, 101) if x > v), 10)
        # 10 samples or fewer: no percentile has ten beyond
        self.assertEqual(M.tail(list(range(10)), 0.9), (None, None))

    def test_tail_never_above_wanted(self):
        q, v = M.tail(list(range(1, 5001)), 0.9)
        self.assertEqual((q, v), (0.9, 4500))


class OpenLoopTest(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # the generator stalled: post 2 was due at 100 ms but sent at
        # 500 ms; its latency must include the 400 ms it waited to be sent
        due = [0.0, 100.0, 200.0]
        sent = [0.0, 500.0, 510.0]
        out = [50.0, 560.0, 600.0]
        lat = M.open_loop_latencies(zip(due, out))
        self.assertEqual(lat, [50.0, 460.0, 400.0])
        self.assertNotEqual(lat, [o - s for s, o in zip(sent, out)])


class SpanTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(M.union_ms([(10, 30), (20, 50), (60, 70)]), 50)
        self.assertEqual(M.union_ms([]), 0)
        self.assertEqual(M.union_ms([(0, 10), (10, 20)]), 20)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            (1, 0, "request", "r", 0.0, 100.0),
            (2, 1, "lex", "r", 10.0, 30.0),
            (3, 1, "ann", "r", 20.0, 50.0),   # overlaps lex
            (4, 1, "fuse", "r", 60.0, 70.0),
            (5, 4, "inner", "r", 62.0, 64.0),
            (6, 1, "late", "r", 95.0, 120.0),  # runs past its parent
        ]
        st = M.self_times(spans)
        self.assertAlmostEqual(st[1], 100 - 40 - 10 - 5)
        self.assertAlmostEqual(st[4], 10 - 2)
        self.assertAlmostEqual(st[2], 20)
        self.assertAlmostEqual(st[6], 25)

    def test_driver_gap(self):
        jobs = {"op": [{"submit": 10.0, "end": 40.0, "stages": 1, "tasks": 2,
                        "shuffle": 0, "input": 0, "output": 0, "spill": 0,
                        "run_ms": 5}, {"submit": 30.0, "end": 60.0,
                                       "stages": 1, "tasks": 2, "shuffle": 0,
                                       "input": 0, "output": 0, "spill": 0,
                                       "run_ms": 5}]}
        out = M.per_op_spark(jobs, {"op": (0.0, 100.0)})
        self.assertEqual(out["jobs"], 2)
        self.assertEqual(out["gap_ms"], 50.0)


class SmokeTest(unittest.TestCase):
    """Each workload end to end on 500 documents."""

    def run_bench(self, workload, seconds, trace):
        p = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", str(seconds), "--trace", str(trace),
             "--docs", "500"], capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertTrue(res["correct"], p.stdout[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        return res["metrics"]

    def test_stream_enrich(self):
        ms = self.run_bench("stream_enrich", 6, 0)
        self.assertEqual(set(ms), set(M.END_TO_END))
        self.assertTrue(all(m["value"] > 0 for m in ms.values()))

    def test_nightly_loop_traced(self):
        ms = self.run_bench("nightly_loop", 3, 1)
        self.assertEqual(set(ms), set(M.PER_LAYER_UNITS))
        self.assertGreater(ms["spark.jobs_per_op"]["value"], 0)
        self.assertGreater(ms["operators.LexIndex.jobs"]["value"], 0)

    def test_hybrid_serve_traced(self):
        ms = self.run_bench("hybrid_serve", 3, 1)
        self.assertEqual(set(ms), set(M.PER_LAYER_UNITS) | set(M.SERVE_UNITS))
        self.assertGreater(ms["spark.jobs_per_op"]["value"], 0)
        self.assertGreater(ms["serve.lex_ms_p50"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
