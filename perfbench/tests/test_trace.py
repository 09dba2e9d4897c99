"""The traced run's spans and counters are self-consistent and repeatable.

Runs the pipeline workload twice in trace mode with a one-second window,
which always gives one cold and exactly two timed batches.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
SEED = 5


def traced_run():
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                          "--workload", "streamflow_pipeline", "--seed", str(SEED),
                          "--seconds", "1", "--trace", "1"],
                         cwd=ROOT, check=True, capture_output=True, text=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    path = os.path.join(HERE, "work", "traces", f"streamflow_pipeline-{SEED}.spans.jsonl")
    with open(path) as f:
        spans = [json.loads(line) for line in f]
    return result, spans


class TraceTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.first = traced_run()
        cls.second = traced_run()

    def test_self_times_sum_to_op_wall(self):
        _, spans = self.first
        ops = [s for s in spans if s["name"] == "op"]
        self.assertEqual(len(ops), 2)  # the cold batch and the traced timed batch
        for op in ops:
            wall = op["end_ms"] - op["start_ms"]
            total_self = sum(s["self_ms"] for s in spans if s["op"] == op["id"])
            # the two ingest legs run concurrently: their overlap counts twice
            self.assertAlmostEqual(total_self, wall, delta=max(5.0, 0.005 * wall))

    def test_known_plan_job_count_is_exact(self):
        _, spans = self.first
        readouts = [s for s in spans if s["name"] == "plans.readout"]
        self.assertTrue(readouts)
        # each readout collects two MV backing tables: one job per scan
        self.assertEqual({s["jobs"] for s in readouts}, {2})
        self.assertEqual({s["jobs"] for s in spans if s["name"] == "jobs.validate_outputs"}, {0})

    def test_mv_incremental_share_repeats_exactly(self):
        a = self.first[0]["metrics"]
        b = self.second[0]["metrics"]
        for k in ("plans.mv_incremental_share", "plans.mv_refreshes"):
            self.assertEqual(a[k]["value"], b[k]["value"], k)
        self.assertEqual(a["plans.mv_refreshes"]["value"], 6.0)  # 3 batches x 2 MVs
        self.assertTrue(self.first[0]["correct"] and self.second[0]["correct"])


if __name__ == "__main__":
    unittest.main()
