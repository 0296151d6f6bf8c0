#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py              # everything
    PERFBENCH_FAST=1 python3 -m unittest perfbench/test_perfbench.py   # no JVM runs

Run from the repository root. The slow tests launch real benchmark runs
(about a minute each): one checks that the last stdout line, exactly as
captured, is bare JSON; one plants a wrong response on two seeds and
checks that the run reports it.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import trace_report  # noqa: E402

RESULT = '{"correct": true, "attempted": 3, "failed": 0, "metrics": {"setup_s": {"value": 0.81, "unit": "s"}}}'
SLOW = not os.environ.get("PERFBENCH_FAST")


def bench(*args):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)


class ParseResult(unittest.TestCase):
    def test_bare_line_parses(self):
        self.assertEqual(run.parse_result("log line\n" + RESULT + "\n")["attempted"], 3)

    def test_log_prefix_is_rejected(self):
        # sbt's `[info] ` prefix is what emptied earlier performance records
        with self.assertRaises(ValueError):
            run.parse_result("[info] " + RESULT)

    def test_extra_or_missing_keys_are_rejected(self):
        r = json.loads(RESULT)
        for bad in ({**r, "extra": 1}, {k: v for k, v in r.items() if k != "failed"}):
            with self.assertRaises(ValueError):
                run.parse_result(json.dumps(bad))

    def test_counts_must_be_whole_and_attempted_positive(self):
        r = json.loads(RESULT)
        for bad in ({**r, "attempted": 0}, {**r, "failed": 1.5}, {**r, "attempted": True}):
            with self.assertRaises(ValueError):
                run.parse_result(json.dumps(bad))


class TraceReader(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 1, "parent": 0, "name": "request", "layer": "bench", "op": 1, "start_ns": 0, "end_ns": 10_000_000},
            {"id": 2, "parent": 1, "name": "transform", "layer": "core", "op": 1, "start_ns": 1_000_000, "end_ns": 3_000_000},
            {"id": 3, "parent": 1, "name": "collect", "layer": "spark", "op": 1, "start_ns": 3_000_000, "end_ns": 9_000_000},
        ]
        by_layer, _, ops = trace_report.summarise(spans)
        self.assertEqual(dict(by_layer), {"bench": 2.0, "core": 2.0, "spark": 6.0})
        self.assertEqual(ops, 1)

    def test_self_metrics_count_primary_operations_only(self):
        def span(i, parent, layer, op, kind, start, end):
            return {"id": i, "parent": parent, "name": layer, "layer": layer, "op": op, "kind": kind,
                    "start_ns": start * 1_000_000, "end_ns": end * 1_000_000}
        spans = [
            span(1, 0, "core", 0, "", 0, 50),  # set-up load: no operation
            span(2, 0, "bench", 1, "small", 50, 60), span(3, 2, "core", 1, "small", 50, 54),
            span(4, 2, "spark", 1, "small", 54, 60),
            span(5, 0, "bench", 2, "small", 60, 70), span(6, 5, "core", 2, "small", 60, 62),
            span(7, 5, "spark", 2, "small", 62, 70),
            span(8, 0, "bench", 3, "bulk", 70, 170), span(9, 8, "spark", 3, "bulk", 70, 170),
        ]
        self.assertEqual(trace_report.primary_self_ms("serve", spans),
                         {"self.entry_ms": 3.0, "self.spark_ms": 7.0})


class Contract(unittest.TestCase):
    def test_fails_without_the_product_sources(self):
        root = os.getcwd()
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(root, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(root, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project/project", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
                                "--seconds", "1", "--trace", "0"], cwd=d, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, b"")


@unittest.skipUnless(SLOW, "launches benchmark JVMs")
class EndToEnd(unittest.TestCase):
    def test_captured_last_line_is_bare_json(self):
        p = bench("--workload", "corpus", "--seed", "5", "--seconds", "1", "--trace", "0")
        self.assertEqual(p.returncode, 0)
        last = p.stdout.rstrip(b"\n").split(b"\n")[-1]
        result = json.loads(last.decode())  # exactly as captured: no prefix allowed
        self.assertEqual(set(result), run.RESULT_KEYS)
        with open("BENCHMARK.json") as fh:
            names = [m["name"] for m in json.load(fh)["end_to_end"]]
        self.assertEqual(sorted(result["metrics"]), sorted(names))
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)

    def test_planted_wrong_response_is_counted(self):
        for seed in ("5", "6"):
            p = bench("--workload", "serve", "--seed", seed, "--seconds", "1", "--trace", "0", "--plant-fault")
            self.assertEqual(p.returncode, 0)
            result = run.parse_result(p.stdout.decode())
            self.assertFalse(result["correct"])
            self.assertGreater(result["failed"] / result["attempted"], 0)


if __name__ == "__main__":
    unittest.main()
