"""Harness self-tests: output line and trace file schemas, BENCHMARK.json,
and the Scala-side rules (percentile, epoch latency clock, backlog growth).

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import importlib.util
import json
import subprocess
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
spec = importlib.util.spec_from_file_location("bench_run", HERE.parent / "run.py")
run = importlib.util.module_from_spec(spec)
spec.loader.exec_module(run)

SPECS = [{"name": "job_s", "unit": "s", "better": "lower", "bound": 0.2},
         {"name": "dup_recall", "unit": "ratio", "better": "higher", "bound": 0.02}]


def line(**over):
    obj = {"correct": True, "attempted": 10, "failed": 0,
           "metrics": {"job_s": {"value": 1.25, "unit": "s"},
                       "dup_recall": {"value": 0.99, "unit": "ratio"}}}
    obj.update(over)
    return obj


def trace(**over):
    obj = {"schema": run.TRACE_SCHEMA, "workload": "etl_sync", "seed": 1,
           "end_to_end": {"job_s": 1.0}, "per_layer": {"operators.upsert_s": 0.5},
           "spans": [
               {"id": 1, "name": "etl.job", "parent": None, "run": "rep-1",
                "start_ms": 1.7e12, "end_ms": 1.7e12 + 1000, "dur_s": 1.0,
                "self_s": 0.5, "counters": {}},
               {"id": 2, "name": "operators.upsert", "parent": 1, "run": "rep-1",
                "start_ms": 1.7e12 + 100, "end_ms": 1.7e12 + 600, "dur_s": 0.5,
                "self_s": 0.5, "counters": {"task_busy_s": 1.2}}]}
    obj.update(over)
    return obj


class OutputLine(unittest.TestCase):
    def test_valid_line(self):
        run.validate_result_line(line(), SPECS)

    def test_round_trips_as_one_json_line(self):
        text = json.dumps(line())
        self.assertNotIn("\n", text)
        run.validate_result_line(json.loads(text), SPECS)

    def test_rejects_extra_or_missing_keys(self):
        with self.assertRaises(run.BenchError):
            run.validate_result_line({**line(), "extra": 1}, SPECS)
        bad = line()
        del bad["failed"]
        with self.assertRaises(run.BenchError):
            run.validate_result_line(bad, SPECS)

    def test_rejects_missing_metric_wrong_unit_and_nan(self):
        for metrics in ({"job_s": {"value": 1.0, "unit": "s"}},
                        {"job_s": {"value": 1.0, "unit": "ms"},
                         "dup_recall": {"value": 1.0, "unit": "ratio"}},
                        {"job_s": {"value": float("nan"), "unit": "s"},
                         "dup_recall": {"value": 1.0, "unit": "ratio"}}):
            with self.assertRaises(run.BenchError):
                run.validate_result_line(line(metrics=metrics), SPECS)

    def test_counts_are_whole_and_attempted_positive(self):
        for over in ({"attempted": 0}, {"attempted": 1.5}, {"failed": -1},
                     {"correct": 1}):
            with self.assertRaises(run.BenchError):
                run.validate_result_line(line(**over), SPECS)


class TraceFile(unittest.TestCase):
    def test_valid_trace(self):
        run.validate_trace(trace())

    def test_rejects_unknown_parent(self):
        t = trace()
        t["spans"][1]["parent"] = 7
        with self.assertRaises(run.BenchError):
            run.validate_trace(t)

    def test_rejects_self_time_above_duration(self):
        t = trace()
        t["spans"][0]["self_s"] = 2.0
        with self.assertRaises(run.BenchError):
            run.validate_trace(t)

    def test_rejects_missing_fields(self):
        t = trace()
        del t["spans"][0]["run"]
        with self.assertRaises(run.BenchError):
            run.validate_trace(t)
        with self.assertRaises(run.BenchError):
            run.validate_trace(trace(schema="other/1"))


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json: every metric named once, bounded end-to-end metrics."""

    def test_benchmark_json(self):
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual(set(spec), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", [m["name"] for m in spec["end_to_end"]])
        for m in spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        self.assertEqual({w["name"] for w in spec["workloads"]},
                         {"etl_sync", "stream_ingest", "corpus_dedup"})


class ScalaRules(unittest.TestCase):
    """Percentile rule, epoch latency clock and backlog detector (SelfTest.scala)."""

    def test_scala_self_tests(self):
        classes = run.build()
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", f"{classes}:{run.spark_jars()}/*",
                            "graftbench.SelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("all self-tests passed", r.stdout)


if __name__ == "__main__":
    unittest.main()
