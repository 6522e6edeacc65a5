#!/usr/bin/env python3
"""The benchmark's own tests: generator determinism and a smoke-size run of
every workload in both modes (metric emission plus the output checks).
Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "tests")
SPEC = run.read_json(os.path.join(ROOT, "BENCHMARK.json"))


def tree_digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)


class Generators(unittest.TestCase):
    def make(self, name, seed):
        d = os.path.join(SCRATCH, name)
        shutil.rmtree(d, ignore_errors=True)
        gen.tables(os.path.join(d, "tables"), 0.001, seed)
        gen.gbfs(os.path.join(d, "gbfs"), seed, 10, 3)
        gen.drops(os.path.join(d, "drops"), seed, 200, 3)
        return tree_digest(d)

    def test_same_seed_same_bytes_other_seed_differs(self):
        a, b, c = self.make("a", 5), self.make("b", 5), self.make("c", 6)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_gbfs_truth_matches_last_payload(self):
        d = os.path.join(SCRATCH, "feed")
        truth = gen.gbfs(d, 3, 12, 5)
        with open(os.path.join(d, "status", "0004.json")) as f:
            last = json.load(f)["data"]["stations"]
        self.assertEqual(truth["rows"], 60)
        self.assertEqual(truth["bikes_disponiveis"], sum(s["num_bikes_available"] for s in last))
        self.assertEqual(truth["docks_disponiveis"], sum(s["num_docks_available"] for s in last))

    def test_drops_are_id_ordered_and_cover_the_corpus(self):
        d = os.path.join(SCRATCH, "drops")
        shutil.rmtree(d, ignore_errors=True)
        gen.drops(d, 2, 300, 4)
        ids = []
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name)) as f:
                ids += [json.loads(line)["doc_id"] for line in f]
        self.assertEqual(ids, list(range(300)))


class Smoke(unittest.TestCase):
    """Every workload at smoke size, untraced and traced."""

    def run_workload(self, workload, trace):
        r = bench("--workload", workload, "--seed", "11", "--seconds", "0",
                  "--trace", str(trace), "--smoke")
        self.assertEqual(r.returncode, 0, r.stderr[-2000:] + r.stdout[-2000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(out), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        wanted = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(sorted(out["metrics"]), sorted(m["name"] for m in wanted))
        for m in wanted:
            v = out["metrics"][m["name"]]
            self.assertEqual(v["unit"], m["unit"])
            self.assertIsInstance(v["value"], float)
            if not trace:
                self.assertGreater(v["value"], 0, m["name"])
        if trace:
            spans = os.path.join(ROOT, ".bench_build", "traces",
                                 f"{workload}-s11-t1", "spans.json")
            with open(spans) as f:
                kinds = {s["kind"] for s in json.load(f)}
            self.assertTrue({"workload", "build", "action", "job", "stage"} <= kinds, kinds)
        return out

    def test_queries(self):
        self.run_workload("queries", 0)
        self.run_workload("queries", 1)

    def test_gbfs_ingest(self):
        self.run_workload("gbfs_ingest", 0)
        out = self.run_workload("gbfs_ingest", 1)
        self.assertGreater(out["metrics"]["store.files"]["value"], 0)
        self.assertGreater(out["metrics"]["store.write_jobs"]["value"], 0)

    def test_chain_stream(self):
        self.run_workload("chain_stream", 0)
        out = self.run_workload("chain_stream", 1)
        self.assertGreater(out["metrics"]["streaming.batches"]["value"], 0)

    def test_refuses_without_the_program(self):
        d = os.path.join(SCRATCH, "bare")
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        r = bench("--workload", "queries", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=d)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout, "")


if __name__ == "__main__":
    unittest.main()
