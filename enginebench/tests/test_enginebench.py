"""Tests of the benchmark itself: a tiny run of each workload, a tiny
traced run, and proof that each output check can fail.

    python3 -m unittest discover -s enginebench/tests    # from the checkout root

The tiny runs build the engine first when needed (a few minutes).
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

import dockets  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402

END_TO_END = ["setup_s", "ops_per_s", "op_p50_ms", "op_p95_ms", "live_heap_mb"]
PIPELINE_CHECKS = ["ingest", "report", "get_case", "keyword", "bm25", "search_dockets",
                   "ann", "list_year", "list_judge", "phrase", "hybrid", "forget",
                   "setup", "leftovers"]


def bench(workload, trace=0):
    """Run the benchmark tiny; returns (stamps line, result line)."""
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", "5", "--seconds", "1", "--trace", str(trace),
                        "--tiny", "--keep"],
                       cwd=BENCH.parent, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-3000:])
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class TinyRuns(unittest.TestCase):
    runs = {}

    @classmethod
    def setUpClass(cls):
        for w in run.WORKLOADS:
            cls.runs[w] = bench(w)

    @classmethod
    def tearDownClass(cls):
        for stamps, _ in cls.runs.values():
            shutil.rmtree(stamps["stamps"]["run_dir"], ignore_errors=True)

    def kept(self, workload):
        stamps, _ = self.runs[workload]
        d = Path(stamps["stamps"]["run_dir"])
        result = json.loads((d / "result.json").read_text())
        result["run_dir"] = str(d / workload)
        expect = json.loads((d / workload / "expect.json").read_text())
        return result, expect

    def test_each_workload_runs_clean(self):
        for w, (stamps, line) in self.runs.items():
            with self.subTest(workload=w):
                self.assertTrue(line["correct"])
                self.assertEqual(line["failed"], 0)
                self.assertGreater(line["attempted"], 0)
                self.assertEqual(sorted(line["metrics"]), sorted(END_TO_END))
                for m in line["metrics"].values():
                    self.assertGreater(m["value"], 0)
                for key in ("nproc", "master", "spark_graft_cpus", "xmx_mb", "jdk",
                            "commit", "seed", "loadavg_before", "loadavg_after"):
                    self.assertIn(key, stamps["stamps"])

    def test_a_corrupted_expectation_fails_an_op(self):
        cases = [("catalog", "catalog"), ("catalog", "hugeint")] + [
            ("pipeline", c) for c in PIPELINE_CHECKS]
        for w, corrupt in cases:
            with self.subTest(workload=w, corrupt=corrupt):
                result, expect = self.kept(w)
                line = run.evaluate(w, result, expect, trace=0, corrupt=corrupt)
                self.assertFalse(line["correct"])
                if corrupt != "setup":
                    self.assertGreaterEqual(line["failed"], 1)

    def test_uncorrupted_check_passes_on_the_kept_run(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                result, expect = self.kept(w)
                line = run.evaluate(w, result, expect, trace=0)
                self.assertTrue(line["correct"])
                self.assertEqual(line["failed"], 0)


class TracedRun(unittest.TestCase):
    def test_traced_run_yields_every_per_layer_metric(self):
        stamps, line = bench("catalog", trace=1)
        shutil.rmtree(stamps["stamps"]["run_dir"], ignore_errors=True)
        spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())["per_layer"]
        self.assertEqual(sorted(line["metrics"]), sorted(m["name"] for m in spec))
        self.assertTrue(line["correct"])


class Inputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        tmp = BENCH.parent / ".bench_build" / "test_inputs"
        try:
            a = inputs.make("pipeline", 9, tmp / "a", 1, tiny=True)
            b = inputs.make("pipeline", 9, tmp / "b", 1, tiny=True)
            self.assertEqual(json.dumps(a).replace("/a/", "/x/"),
                             json.dumps(b).replace("/b/", "/x/"))
            self.assertEqual((tmp / "a" / "base.json").read_bytes(),
                             (tmp / "b" / "base.json").read_bytes())
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_normalizers_and_party_parser(self):
        self.assertEqual(dockets.norm_court("N.D. Cal."), "NDCAL")
        self.assertEqual(dockets.norm_judge("HON. Maria  Rodriguez"), "maria rodriguez")
        self.assertEqual(dockets.parse_parties("Acme Corp, Jane Doe (defendants); Bo (plaintiff)"),
                         {("acme corp", "defendant"), ("jane doe", "defendant"),
                          ("bo", "plaintiff")})

    def test_chunk_count_matches_the_chunker_window(self):
        self.assertEqual(inputs.chunk_count("x" * 1200), 1)
        self.assertEqual(inputs.chunk_count("x" * 1201), 2)
        self.assertEqual(inputs.chunk_count("x" * 2200), 2)
        self.assertEqual(inputs.chunk_count("x" * 2201), 3)


if __name__ == "__main__":
    unittest.main()
