"""Self-check of the benchmark: every workload at its benchmark size
with one timed pass, untraced and traced. Every run must emit exactly
the metrics BENCHMARK.json names, with their units, and pass every
answer check; on qcew_ingest the traced layer spans must cover at least
90% of the pipeline pass, and on registry_mix the jobs of
q_session_window_stream's stream must be counted in its span.

Run from the repository root:
  python3 -m unittest perfbench/test_selfcheck.py
(about six minutes on 4 cores; the first run also builds).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SEED = 7


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class SelfCheck(unittest.TestCase):
    def check(self, res, spec):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        want = {m["name"]: m["unit"] for m in spec}
        self.assertEqual(set(res["metrics"]), set(want))
        for name, m in res["metrics"].items():
            self.assertEqual(m["unit"], want[name], name)
            self.assertIsInstance(m["value"], (int, float), name)

    def test_workloads(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                res = run(w["name"], 0)
                self.check(res, BENCH["end_to_end"])
                for m in BENCH["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])
                traced = run(w["name"], 1)
                self.check(traced, BENCH["per_layer"])
                if w["name"] == "qcew_ingest":
                    self.assertGreaterEqual(traced["metrics"]["trace.coverage"]["value"], 0.9)
                    self.assertGreater(traced["metrics"]["fixedwidth.decode_s"]["value"], 0)
                    self.assertGreater(traced["metrics"]["ingest.files"]["value"], 0)
                if w["name"] == "registry_mix":
                    self.assertGreater(traced["metrics"]["registry.jobs_per_query"]["value"], 0)
                    self.assertGreater(stream_jobs(), 0)


def stream_jobs():
    """Jobs counted under the traced q_session_window_stream spans. The
    stream runs while the query is built, in a job group Spark sets."""
    path = os.path.join(ROOT, ".bench_cache", "spans", f"registry_mix-{SEED}.jsonl")
    spans = [json.loads(x) for x in open(path)]
    ids = {s["id"] for s in spans if s["key"] == "q_session_window_stream"}
    assert ids, "no traced q_session_window_stream span"
    return sum(s["jobs"] for s in spans if s["id"] in ids or s["parent"] in ids)


if __name__ == "__main__":
    unittest.main()
