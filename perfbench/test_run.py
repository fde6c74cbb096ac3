#!/usr/bin/env python3
"""Tests of the benchmark harness itself (not of the program).

    python3 perfbench/test_run.py          # from the repository root

Each test runs the harness on tiny inputs for a few seconds:
- a tiny run of each workload prints every end-to-end metric by name
  with its unit;
- traced runs report every per-layer metric; series_rate's reaches the
  state store and checks every rate batch against a batch lag() twin;
- a dropped sink line or a throwing batch lands in `failed`, and the
  failed batch never becomes a timing sample;
- without the program's sources the launcher exits non-zero, fast,
  without printing a result.
"""

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
import unittest

ROOT = os.getcwd()
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
SEVEN = {"records_per_s": "1/s", "batch_p50_ms": "ms", "batch_p90_ms": "ms",
         "cpu_s_per_mrec": "s/Mrec", "peak_rss_mb": "MB", "setup_s": "s", "failed_frac": "ratio"}


def run(workload, *extra, seconds=3, trace=0):
    p = subprocess.run(RUN + ["--workload", workload, "--seed", "7", "--seconds", str(seconds),
                              "--trace", str(trace), "--size", "tiny", *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=400)
    if p.returncode != 0:
        raise AssertionError(f"exit {p.returncode}\n{p.stdout}\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    summary = {}
    for line in lines:
        m = re.match(r"perfbench metric (\S+)\s+(\S+) (\S+)\s+\(n=(\d+)\)", line)
        if m:
            summary[m.group(1)] = (float(m.group(2)), m.group(3), int(m.group(4)))
    notes = dict(re.match(r"perfbench note ([^:]+): (.*)", l).groups()
                 for l in lines if l.startswith("perfbench note "))
    return json.loads(lines[-1]), summary, notes


class HarnessTest(unittest.TestCase):

    def test_tiny_run_prints_every_metric_with_its_unit(self):
        for workload in ("scrape_fanout", "series_rate", "dedup_blocking"):
            res, summary, _ = run(workload)
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(res["correct"])
            self.assertEqual(res["failed"], 0)
            self.assertGreaterEqual(res["attempted"], 1)
            for m in SPEC["end_to_end"]:
                self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
                self.assertGreater(res["metrics"][m["name"]]["value"], 0)
            self.assertEqual(list(res["metrics"]), [m["name"] for m in SPEC["end_to_end"]])
            for name, unit in SEVEN.items():
                self.assertEqual(summary[name][1], unit, name)
            self.assertEqual(summary["failed_frac"][0], 0)

    def test_traced_run_reports_every_per_layer_metric(self):
        res, _, _ = run("scrape_fanout", trace=1, seconds=4)
        self.assertTrue(res["correct"])
        self.assertEqual(list(res["metrics"]), [m["name"] for m in SPEC["per_layer"]])
        self.assertGreater(res["metrics"]["jolokia.flatten_rows"]["value"], 0)
        self.assertGreater(res["metrics"]["streaming.source_scan_ratio"]["value"], 0)
        spans = os.path.join(ROOT, "perfbench", "work", "scrape_fanout-7-t1",
                             "spans-scrape_fanout-7.jsonl")
        with open(spans) as f:
            names = {json.loads(l)["name"] for l in f}
        self.assertTrue({"jolokia.normalize", "jolokia.flatten", "sinks.es_bulk",
                         "sinks.kafka_jsonl", "streaming.trigger", "streaming.addBatch"} <= names)

    def test_traced_series_rate_reaches_the_state_store(self):
        res, _, notes = run("series_rate", trace=1, seconds=4)
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertEqual(list(res["metrics"]), [m["name"] for m in SPEC["per_layer"]])
        for m in ("streaming.state_rows", "streaming.state_mb", "streaming.rate_ms",
                  "exchange.shuffle_write_mb"):
            self.assertGreater(res["metrics"][m]["value"], 0, m)
        self.assertEqual(res["metrics"]["sinks.files_written"]["value"], 0)
        self.assertGreater(int(notes["traced_batches"]), 0)

    def test_dropped_sink_line_is_a_failure_not_a_timing(self):
        res, summary, notes = run("scrape_fanout", "--inject", "drop_sink_line")
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertEqual(summary["batch_p50_ms"][2], int(notes["window_batches"]) - 1)
        self.assertAlmostEqual(summary["failed_frac"][0], 1 / res["attempted"])

    def test_throwing_batch_is_a_failure_not_a_timing(self):
        res, summary, notes = run("scrape_fanout", "--inject", "throw_batch")
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertEqual(summary["batch_p50_ms"][2], int(notes["window_batches"]))
        res, summary, notes = run("dedup_blocking", "--inject", "throw_batch")
        self.assertEqual(res["failed"], 1)
        self.assertEqual(summary["batch_p50_ms"][2], int(notes["passes"]) - 1)

    def test_without_program_sources_it_fails_fast(self):
        work = os.path.join(ROOT, "perfbench", "work")
        os.makedirs(work, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=work) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "work"))
            t = time.time()
            p = subprocess.run(RUN + ["--workload", "scrape_fanout", "--seed", "1", "--seconds", "1",
                                      "--trace", "0"], cwd=d, capture_output=True, text=True,
                               timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
            self.assertLess(time.time() - t, 60)


if __name__ == "__main__":
    unittest.main(verbosity=2)
