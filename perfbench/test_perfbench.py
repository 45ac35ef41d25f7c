#!/usr/bin/env python3
"""Tests of the benchmark itself: the BENCHMARK.json contract, smoke runs
of every workload (every metric emitted, with its unit), fault injection
and the refusal to run without the engine's sources.

    python3 perfbench/test_perfbench.py        # from the checkout root

The smoke runs build the benchmark on first use and take a few minutes.
"""
import json
import math
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def bench(workload, trace, extra_env=None, cwd=ROOT, script=HERE / "run.py"):
    env = dict(os.environ, **(extra_env or {}))
    r = subprocess.run([sys.executable, str(script), "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", str(trace), "--smoke"],
                       cwd=cwd, env=env, capture_output=True, text=True, timeout=900)
    return r


def last_json(r):
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else None


class Contract(unittest.TestCase):
    def test_keys_and_limits(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertEqual(SPEC["paths"], ["perfbench"])
        self.assertTrue(1 <= SPEC["run_seconds"] <= 60)
        self.assertTrue(2 <= len(SPEC["workloads"]) <= 8)
        names = [w["name"] for w in SPEC["workloads"]]
        names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in SPEC["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertIn(w["name"], run.WORKLOADS)
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in SPEC["end_to_end"]))


class Smoke(unittest.TestCase):
    """Every workload at tiny sizes, untraced and traced."""

    def check(self, workload, trace):
        r = bench(workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        out = last_json(r)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], r.stdout[-3000:])
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(out["failed"], 0)
        spec = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(out["metrics"]), {m["name"] for m in spec})
        for m in spec:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
            if not trace:
                self.assertNotEqual(got["value"], 0, m["name"])
        env = json.loads(r.stdout.strip().splitlines()[-3])["env"]
        for k in ("nproc", "SPARK_GRAFT_CPUS", "git_sha", "jdk", "spark", "xmx", "run_seconds"):
            self.assertIn(k, env)
        return json.loads(r.stdout.strip().splitlines()[-2])["detail"]

    def test_workloads(self):
        for w in run.WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    detail = self.check(w, trace)
                    if trace and w == "ingest_stream":
                        self.assertGreaterEqual(detail["stream.breakdown_coverage"]["value"], 0.9)
                        for m in ("queue.push.ms_p95", "queue.push.mb_s", "stream.triggers",
                                  "ops.jobs_per_trigger"):
                            self.assertGreater(detail[m]["value"], 0, m)
                    if trace and w == "batch_queries":
                        # every query's plans were attributed to it
                        for q in ("q_link_rank", "q_dup_communities", "q_median_mad", "q_ann_ivf"):
                            joins = detail[f"query.{q}.bhj"]["value"] + detail[f"query.{q}.smj"]["value"]
                            self.assertGreaterEqual(joins, 1, q)


class Faults(unittest.TestCase):
    """A corrupted output is counted as a failed operation."""

    def test_dropped_row(self):
        for w in [x["name"] for x in SPEC["workloads"]]:
            with self.subTest(workload=w):
                r = bench(w, 0, {"PERFBENCH_FAULT": "drop_row"})
                self.assertEqual(r.returncode, 0, r.stderr[-3000:])
                out = last_json(r)
                self.assertFalse(out["correct"])
                self.assertGreaterEqual(out["failed"], 1)


class Refusal(unittest.TestCase):
    """Without the engine's sources the benchmark exits non-zero and
    prints no result."""

    def test_bare_directory(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(HERE, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            r = bench("queue_small_ops", 0, cwd=d, script=Path(d) / "perfbench" / "run.py")
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main(verbosity=2)
