"""The benchmark's own tests, on tiny generated inputs. Run from the root
of a checkout (each case starts the harness JVM; about five minutes):

    python3 perfbench/test_bench.py

They check that the tracer's accounting closes (span jobs sum to the
listener's total, span self times sum to the wall time measured around
the traced pass and probe), that
the deterministic counters repeat exactly across two traced runs at one
seed, that a wrong output is counted as a failed pass, that the
canonical digest agrees between the JVM and DuckDB sides, and that
BENCHMARK.json is the one spec.py declares.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import spec  # noqa: E402

SCALE = "0.1"
# largest share of a traced pass spent outside the library calls
PASS_SELF_MAX = 0.35
_cache = {}


def bench(workload, trace, seed=7, extra=(), tag=0):
    """Run run.py; return (final JSON line, harness record). Calls with
    equal arguments share one run unless `tag` differs."""
    key = (workload, trace, seed, tuple(extra), tag)
    if key in _cache:
        return _cache[key]
    with tempfile.TemporaryDirectory() as d:
        rec = os.path.join(d, "rec.json")
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
             "--scale", SCALE, "--result", rec, *extra],
            capture_output=True, text=True, timeout=600)
        if p.returncode != 0:
            raise AssertionError(f"run.py failed: {p.stderr[-3000:]}")
        with open(rec) as f:
            out = (json.loads(p.stdout.strip().splitlines()[-1]), json.load(f))
    _cache[key] = out
    return out


def span_names(layer):
    return {k[:-len(".jobs")] for k in layer if k.endswith(".jobs")
            and not k.startswith(("spark.", "trace."))}


class TracerAccounting(unittest.TestCase):
    def check_closure(self, workload):
        line, rec = bench(workload, 1)
        layer = rec["result"]["layer"]
        spans = span_names(layer)
        self.assertIn("pass", spans)
        self.assertEqual(layer["trace.unattributed_jobs"], 0)
        self.assertEqual(sum(layer[f"{s}.jobs"] for s in spans), layer["trace.total_jobs"])
        # self times against the traced stretches timed around the tracer:
        # time outside every span, or a clock slip, opens a gap
        wall = layer["trace.wall_s"]
        self.assertLess(abs(sum(layer[f"{s}.self_s"] for s in spans) - wall), 0.01 + 0.005 * wall)
        # the pass's own time (output digests, cache release) is what no
        # library span covers; a span that stops being recorded lands here
        self.assertLess(layer["pass.self_s"], PASS_SELF_MAX * layer["trace.pass_s"])
        self.assertEqual(set(line["metrics"]), {n for n, _, _ in spec.PER_LAYER})

    def test_trade_graph_closure(self):
        self.check_closure("trade_graph")

    def test_curate_batch_closure(self):
        self.check_closure("curate_batch")

    def test_counters_repeat(self):
        _, a = bench("trade_graph", 1)
        _, b = bench("trade_graph", 1, tag=1)
        for k in ["spark.jobs", "spark.stages", "spark.tasks", "spark.plan_nodes_max"]:
            self.assertEqual(a["result"]["layer"][k], b["result"]["layer"][k], k)


class CorrectnessCheck(unittest.TestCase):
    def test_clean_run_is_correct(self):
        line, _ = bench("trade_graph", 0)
        self.assertTrue(line["correct"])
        self.assertEqual(line["failed"], 0)
        self.assertEqual(set(line["metrics"]), {n for n, _, _, _ in spec.END_TO_END})

    def test_corrupted_output_counts_as_failed(self):
        line, rec = bench("trade_graph", 0, extra=("--corrupt-pass", "0"))
        self.assertFalse(line["correct"])
        self.assertGreaterEqual(line["failed"], 1)
        self.assertEqual(line["attempted"], len(rec["result"]["passes"]))


class Canonical(unittest.TestCase):
    def test_digest_forms(self):
        # the same values the JVM side formats (Digest.scala)
        self.assertEqual(oracle.canon(-0.0), "0.000000")
        self.assertEqual(oracle.canon(-1e-9), "0.000000")
        self.assertEqual(oracle.canon(0.1234565), "0.123456")  # binary value is below the tie
        self.assertEqual(oracle.canon(True), "true")
        self.assertEqual(oracle.canon([1, None, 2.5]), "[1,\\N,2.500000]")
        self.assertEqual(oracle.digest([(1, "a"), (2, "b")]), oracle.digest([(2, "b"), (1, "a")]))
        self.assertNotEqual(oracle.digest([(1, "a")]), oracle.digest([(1, "a"), (1, "a")]))

    def test_benchmark_json_matches_spec(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            self.assertEqual(json.load(f), spec.benchmark_json())


if __name__ == "__main__":
    unittest.main(verbosity=2)
