#!/usr/bin/env python3
"""Tests of the benchmark itself: injected faults must be counted and fail the
output check, and every metric name must be well formed. Each fault test runs
one workload once (about a minute). Run from the root of a checkout:

    python3 -m unittest perfbench/test_perfbench.py
"""
import json
import re
import subprocess
import unittest

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def run(inject, workload="query_suite"):
    proc = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "0", "--inject", inject],
        stdout=subprocess.PIPE, text=True, timeout=900)
    lines = proc.stdout.splitlines()
    return proc.returncode, lines, json.loads(lines[-1])


class InjectedFaults(unittest.TestCase):

    def test_throwing_query_is_counted_and_fails_the_check(self):
        status, lines, result = run("throw_query")
        self.assertEqual(status, 1)
        self.assertFalse(result["correct"])
        # one injected query per pass, at least three passes; none dropped
        self.assertGreaterEqual(result["failed"], 3)
        self.assertEqual(result["attempted"] % 13, 0)
        self.assertTrue(any(l.startswith("failure class=java.lang.IllegalStateException") for l in lines))

    def test_wrong_fingerprint_is_counted_and_fails_the_check(self):
        status, lines, result = run("bad_fingerprint")
        self.assertEqual(status, 1)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], result["attempted"] // 12)
        self.assertTrue(any(l.startswith("check FAILED: q_bpe_vocab") for l in lines))

    def test_throwing_writer_is_counted_and_fails_the_check(self):
        # the first call throws, the resume call then commits every group
        status, lines, result = run("throw_writer", "extract_resumable")
        self.assertEqual(status, 1)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertEqual(result["attempted"], 2)
        self.assertTrue(any(l.startswith("failure class=java.lang.IllegalStateException") for l in lines))


class MetricNames(unittest.TestCase):

    def test_declared_names_are_well_formed_and_unique(self):
        with open("BENCHMARK.json") as f:
            bench = json.load(f)
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in bench[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(NAME.fullmatch(n), n)

    def test_harness_declares_the_same_metrics(self):
        with open("BENCHMARK.json") as f:
            bench = json.load(f)
        with open("perfbench/src/main/scala/perfbench/Main.scala") as f:
            src = f.read()
        for m in bench["end_to_end"]:
            self.assertIn(f'"{m["name"]}" -> "{m["unit"]}"', src)
        for m in bench["per_layer"]:
            self.assertTrue(NAME.fullmatch(m["name"]), m["name"])


if __name__ == "__main__":
    unittest.main()
