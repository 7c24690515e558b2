#!/usr/bin/env python3
"""Self-test of the benchmark in smoke mode (the sf0.001 fixtures).

    python3 perfbench/selftest.py

Runs ``run.py`` untraced and traced on the smallest fixtures and checks
that:

- every end-to-end and per-layer metric BENCHMARK.json names is printed,
  with its unit;
- span self times are non-negative and sum to no more than their pass's
  wall time, and the tracing overhead is reported;
- ``neardup_cc_clusters`` runs Spark jobs while it is built (its eager
  checkpoint rounds), and its operation latency covers both its
  construction span and its collect span, so construction time is charged
  to the query.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, ".work", "results")
SMOKE = "sf0.001"
SEED = 7


def run(workload: str, trace: int) -> tuple[dict, dict, list[dict]]:
    """Run one smoke run; return (printed result, record, spans)."""
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", str(SEED),
        "--seconds", "1",
        "--trace", str(trace),
        "--sf", SMOKE,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    printed = json.loads(proc.stdout.strip().splitlines()[-1])
    base = os.path.join(RESULTS, f"{workload}-{SMOKE}-s{SEED}-t{trace}")
    with open(base + ".json") as fh:
        record = json.load(fh)
    spans = []
    if trace:
        with open(base + "-spans.jsonl") as fh:
            spans = [json.loads(line) for line in fh]
    return printed, record, spans


def declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.untraced = run("llm_dedup", 0)
        cls.traced = {wl: run(wl, 1) for wl in ("llm_dedup", "stream_sink")}

    def assert_metrics(self, printed: dict, kind: str) -> None:
        got = {k: v["unit"] for k, v in printed["metrics"].items()}
        self.assertEqual(got, declared(kind))
        for k, v in printed["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)
        self.assertTrue(printed["correct"])
        self.assertEqual(printed["failed"], 0)
        self.assertGreaterEqual(printed["attempted"], 1)

    def test_end_to_end_metrics(self):
        self.assert_metrics(self.untraced[0], "end_to_end")

    def test_per_layer_metrics(self):
        for printed, _, _ in self.traced.values():
            self.assert_metrics(printed, "per_layer")
            self.assertIn("trace.overhead_s", printed["metrics"])

    def test_self_times_fit_in_pass(self):
        for wl, (_, record, spans) in self.traced.items():
            traced = [p for p in record["passes"] if p["traced"]]
            self.assertTrue(traced, wl)
            for p in traced:
                mine = [s for s in spans if s["trace"][:2] == [wl, p["tag"]]]
                self.assertTrue(mine, (wl, p["tag"]))
                for s in mine:
                    self.assertGreaterEqual(s["self_s"], 0.0, s)
                self.assertLessEqual(sum(s["self_s"] for s in mine), p["wall_s"] + 1e-6)

    def test_construction_is_charged_to_the_query(self):
        _, record, spans = self.traced["llm_dedup"]
        kids: dict = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)

        def jobs(s):
            return s["jobs"] + sum(jobs(c) for c in kids.get(s["id"], []))

        checked = 0
        for p in record["passes"]:
            if not p["traced"]:
                continue
            op = next(o for o in p["ops"] if o["name"] == "neardup_cc_clusters")
            trace = ["llm_dedup", p["tag"], "neardup_cc_clusters"]
            build = next(s for s in spans if s["trace"] == trace and s["name"] == "queries.build")
            collect = next(s for s in spans if s["trace"] == trace and s["name"] == "exec.collect")
            self.assertGreater(jobs(build), 0)
            dur = (build["end"] - build["start"]) + (collect["end"] - collect["start"])
            self.assertGreaterEqual(op["latency_s"], dur)
            checked += 1
        self.assertGreater(checked, 0)


if __name__ == "__main__":
    unittest.main()
