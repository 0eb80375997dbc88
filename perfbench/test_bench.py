#!/usr/bin/env python3
"""The benchmark's own tests, on minimum-size runs (`--min`: one
measured day, pass or batch, small stores, one second of stream per
rate).

    python3 perfbench/test_bench.py        # ~6 minutes on 4 cores

- every workload emits each of its named end-to-end and per-layer
  metrics with a unit, with error_rate 0 and every check passing;
- a corrupted expected fingerprint is reported as a failed operation;
- the open-loop generator reports how late it ran (stream.gen_late_ms).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# The end-to-end metrics each workload reports on its `report` line.
REPORT = {
    "daily_medallion": ["etl_day_s", "train_eval_s"],
    "ann_ladders": ["ladder_pass_s"],
    "store_churn": ["store_build_s", "store_append_s", "store_serve_s",
                    "store_bytes_per_row"],
    "alert_stream": ["stream_sustained_rows_per_s", "alert_latency_p50_s",
                     "alert_latency_p95_s", "alert_latency_samples"],
}
COMMON = ["setup_s", "peak_rss_mb", "error_rate"]
LAYERS = {
    "daily_medallion": ["Alerts.stream_s", "stream.trigger_p50_ms",
                        "stream.state_rows"],
    "store_churn": ["store.bytes_written_per_row", "store.files"],
    "alert_stream": ["stream.trigger_p50_ms", "stream.planning_ms",
                     "stream.walCommit_ms", "stream.backlog_files",
                     "stream.state_rows", "stream.gen_late_ms"],
}


def bench(workload, trace, *extra):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--min", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    lines = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    assert out.returncode == 0, out.stdout[-2000:]
    by_key = {next(iter(l)): l for l in lines}
    return by_key["correct"], by_key["report"]["report"], by_key.get("layers", {}).get("layers", {})


class MinimumRuns(unittest.TestCase):

    def check_units(self, block, names):
        for n in names:
            self.assertIn(n, block)
            self.assertIsInstance(block[n]["value"], (int, float), n)
            self.assertTrue(block[n]["unit"], n)

    def test_every_workload_traced(self):
        for w in REPORT:
            with self.subTest(workload=w):
                result, report, layers = bench(w, 1)
                self.assertTrue(result["correct"], result)
                self.assertEqual(result["failed"], 0)
                self.assertGreaterEqual(result["attempted"], 1)
                self.check_units(report, REPORT[w] + COMMON)
                self.assertEqual(report["error_rate"]["value"], 0)
                self.assertEqual(sorted(result["metrics"]),
                                 sorted(m["name"] for m in SPEC["per_layer"]))
                self.check_units(result["metrics"], result["metrics"])
                self.check_units(layers, LAYERS.get(w, []))

    def test_untraced_result_line(self):
        result, report, _ = bench("daily_medallion", 0)
        self.assertTrue(result["correct"], result)
        self.assertEqual(sorted(result["metrics"]),
                         sorted(m["name"] for m in SPEC["end_to_end"]))
        for m in SPEC["end_to_end"]:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            self.assertGreater(result["metrics"][m["name"]]["value"], 0)

    def test_corrupted_fingerprint_is_a_failed_operation(self):
        with open(os.path.join(HERE, "expected", "ann_ladders.json")) as f:
            expected = json.load(f)
        rows, h = expected["graph_hits"].split(":")
        expected["graph_hits"] = f"{rows}:{int(h) + 1}"
        with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
            json.dump(expected, f)
        try:
            result, report, _ = bench("ann_ladders", 0, "--expected", f.name)
        finally:
            os.unlink(f.name)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertEqual(result["attempted"], 4)
        self.assertAlmostEqual(report["error_rate"]["value"], 0.25)

    def test_generator_reports_lateness(self):
        result, _, layers = bench("alert_stream", 1)
        self.assertTrue(result["correct"], result)
        self.assertIn("stream.gen_late_ms", layers)
        self.assertGreaterEqual(layers["stream.gen_late_ms"]["value"], 0)


if __name__ == "__main__":
    unittest.main(verbosity=2)
