#!/usr/bin/env python3
"""The benchmark's own tests: BENCHMARK.json agreement, generator
determinism, the digest, and a tiny-input smoke run of every workload
through the oracle check and the trace writer.

Run from the repository root: python3 perfbench/test_bench.py
(the smoke runs build the program first if needed; a few minutes)."""
import contextlib
import io
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

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def smoke(workload, trace, seed=7):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = run.main(["--workload", workload, "--seed", str(seed), "--seconds", "1",
                       "--trace", str(trace), "--scale", "smoke"])
    return rc, [json.loads(line) for line in out.getvalue().splitlines()]


class ContractTest(unittest.TestCase):
    def test_benchmark_json_lists_what_the_runner_reports(self):
        spec = json.loads(run.read(os.path.join(ROOT, "BENCHMARK.json")))
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], metrics.PER_LAYER)
        self.assertIn("setup_s", [m["name"] for m in spec["end_to_end"]])

    def test_generator_is_seeded(self):
        for w in run.WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                    tempfile.TemporaryDirectory() as c:
                gen.generate(w, 3, a, "smoke")
                gen.generate(w, 3, b, "smoke")
                gen.generate(w, 4, c, "smoke")
                self.assertEqual(tree_bytes(a), tree_bytes(b), w)
                self.assertNotEqual(tree_bytes(a), tree_bytes(c), w)

    def test_digest_is_order_independent_and_content_sensitive(self):
        rows = [(1, "a", None), (2, "b", "x")]
        cols = ["n", "s", "t"]
        d = oracle.digest_rows(cols, rows)
        self.assertEqual(d, oracle.digest_rows(cols, list(reversed(rows))))
        self.assertEqual(d, oracle.digest_rows(["t", "n", "s"], [(r[2], r[0], r[1]) for r in rows]))
        self.assertNotEqual(d, oracle.digest_rows(cols, [(1, "a", None), (2, "b", "y")]))
        self.assertTrue(d.startswith("2:"))


def tree_bytes(d):
    out = []
    for dirpath, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            with open(os.path.join(dirpath, f), "rb") as fh:
                out.append((os.path.relpath(os.path.join(dirpath, f), d), fh.read()))
    return out


class SmokeTest(unittest.TestCase):
    def check_traced(self, workload):
        rc, lines = smoke(workload, trace=1)
        self.assertEqual(rc, 0)
        result = lines[-1]
        self.assertTrue(result["correct"], result)
        self.assertEqual(result["failed"], 0)
        self.assertEqual([(k, v["unit"]) for k, v in result["metrics"].items()], metrics.PER_LAYER)
        # the ladder reproduced the oracle's rows (checked in the JVM) and
        # the trace file holds a span tree rooted at iterations and ladders
        trace = os.path.join(run.build_dir(), "traces", f"{workload}-s7-{os.getpid()}.jsonl")
        spans = [json.loads(line) for line in run.read(trace).splitlines()]
        ids = {s["span"] for s in spans}
        roots = [s for s in spans if s["parent"] is None]
        self.assertTrue(any(s["name"].startswith("ladder") for s in roots))
        self.assertTrue(any(s["name"].startswith("iteration") for s in roots))
        self.assertTrue(all(s["parent"] is None or s["parent"] in ids for s in spans))
        self.assertTrue(any(s["name"].startswith("job ") for s in spans))
        return result["metrics"]

    def test_snapshot_full(self):
        m = self.check_traced("snapshot_full")
        self.assertGreater(m["sources.objects"]["value"], 0)
        self.assertGreater(m["functions.records_out"]["value"], 0)

    def test_incremental_latest(self):
        m = self.check_traced("incremental_latest")
        self.assertGreater(m["kv.rows_read"]["value"], 0)
        self.assertGreater(m["queries.latest_ms"]["value"], 0)

    def test_curate_dedup(self):
        m = self.check_traced("curate_dedup")
        self.assertGreater(m["dedup.pairs"]["value"], 0)

    def test_end_to_end_line(self):
        rc, lines = smoke("curate_dedup", trace=0)
        self.assertEqual(rc, 0)
        result = lines[-1]
        self.assertTrue(result["correct"], result)
        self.assertEqual([(k, v["unit"]) for k, v in result["metrics"].items()], metrics.END_TO_END)
        self.assertTrue(all(v["value"] > 0 for v in result["metrics"].values()))

    def test_a_wrong_digest_fails_every_iteration(self):
        bdir = run.build_dir()
        jars = run.spark_jars()
        run.build(bdir, jars)
        rd = tempfile.mkdtemp(dir=os.path.dirname(bdir))
        try:
            for d in ("input", "work", "tmp", "spark-local"):
                os.makedirs(os.path.join(rd, d))
            gen.generate("curate_dedup", 7, os.path.join(rd, "input"), "smoke")
            args = run.argparse.Namespace(workload="curate_dedup", seconds=1, trace=0)
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(run.cpus()),
                       SPARK_LOCAL_DIRS=os.path.join(rd, "spark-local"))
            r = run.bench_jvm(args, bdir, jars, rd, env, "0:0", "run", os.path.join(rd, "t.jsonl"))
            self.assertGreater(r["attempted"], 0)
            self.assertEqual(r["failed"], r["attempted"])
            self.assertEqual(r["run_s"], [])
        finally:
            shutil.rmtree(rd, ignore_errors=True)

    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory(dir=ROOT) as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "curate_dedup",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
