"""Tests of the benchmark itself. Run from the repository root:

  python3 perfbench/test_perfbench.py

The counter-stability test builds the engine if needed and makes one short
traced olap run (about a minute).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

# counters that must repeat exactly across warm passes of one seed
STABLE = ["spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_mb",
          "spark.shuffle_records", "spark.shuffle_read_mb", "plans.exchanges",
          "operators.expand_rows"]


class MetricNames(unittest.TestCase):
    def test_names_and_units_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(run.WORKLOADS))


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "bench", "start_us": 0, "end_us": 100},
            {"id": 2, "parent": 1, "layer": "spark", "start_us": 10, "end_us": 50},
            {"id": 3, "parent": 1, "layer": "spark", "start_us": 40, "end_us": 60},
            {"id": 4, "parent": 2, "layer": "operators", "start_us": 20, "end_us": 30},
        ]
        st = run.self_times(spans, 1)
        self.assertAlmostEqual(st["bench"], 50 / 1e6)
        self.assertAlmostEqual(st["spark"], (40 - 10 + 20) / 1e6)
        self.assertAlmostEqual(st["operators"], 10 / 1e6)


class NoSources(unittest.TestCase):
    def test_refuses_to_run_without_the_sources(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "olap",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


class CounterStability(unittest.TestCase):
    def test_counters_repeat_across_warm_passes(self):
        build_dir = os.path.join(ROOT, ".bench_build")
        run.build(ROOT, build_dir)
        run_dir = os.path.join(build_dir, "runs", f"test-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            res, _ = run.run_harness(ROOT, build_dir, run_dir, "olap", 7, 1, 1)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        traced = [p for p in res["passes"] if p["traced"]]
        self.assertGreaterEqual(len(traced), 2)
        for key in STABLE:
            for i, unit in enumerate(traced[0]["units"]):
                seen = [p["units"][i]["counters"].get(key, 0.0) for p in traced]
                self.assertEqual(len(set(seen)), 1, f"{unit['name']} {key} varies: {seen}")


if __name__ == "__main__":
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    unittest.main()
