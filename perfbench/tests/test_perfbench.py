"""Self-tests of the benchmark. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

Each workload runs at its seconds-long smoke size; a negative case corrupts
one expected row and requires the run to report the failure, so the
reference check cannot pass vacuously.
"""
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import unittest
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(CHECKOUT / "perfbench"))

import gen  # noqa: E402

BENCH = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
RUNS = CHECKOUT / ".perfbench" / "runs"


def bench(*args, cwd=CHECKOUT):
    """Run the benchmark command; returns (exit code, stdout lines)."""
    r = subprocess.run(BENCH["command"] + list(args), cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=600)
    return r.returncode, r.stdout.strip().splitlines()


def smoke(workload, *extra, trace=0):
    rc, out = bench("--workload", workload, "--seed", "7", "--seconds", "3",
                    "--trace", str(trace), "--size", "smoke", *extra)
    assert rc == 0, f"exit code {rc}"
    return json.loads(out[-2]), json.loads(out[-1])


class SmokeTest(unittest.TestCase):

    def check_result(self, detail, result, trace=0):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(detail["detail"]["error_rate"]["value"], 0.0)
        kind = "per_layer" if trace else "end_to_end"
        want = {m["name"]: m["unit"] for m in BENCH[kind]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        if not trace:
            for k, v in result["metrics"].items():
                self.assertGreater(v["value"], 0, k)
        self.assertEqual([p.name for p in RUNS.iterdir()] if RUNS.exists() else [], [])

    def test_tail_read(self):
        self.check_result(*smoke("tail_read"))

    def test_query_suite(self):
        self.check_result(*smoke("query_suite"))

    def test_traced_run_reports_every_layer(self):
        detail, result = smoke("tail_read", trace=1)
        self.check_result(detail, result, trace=1)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertGreater(m["merge.write_s"], 0)
        self.assertGreater(m["merge.dedup_stats_s"], 0)
        self.assertGreater(m["feed.files_scanned"], 0)
        self.assertGreater(m["dedup.salted_epochs"], 0)
        self.assertGreater(m["stream.batches"], 0)

    def test_corrupted_reference_row_is_reported(self):
        for workload in ("tail_read", "query_suite"):
            detail, result = smoke(workload, "--corrupt-reference")
            self.assertFalse(result["correct"], workload)
            self.assertGreater(result["failed"], 0, workload)
            self.assertGreater(detail["detail"]["error_rate"]["value"], 0, workload)


class HygieneTest(unittest.TestCase):

    def test_fails_without_the_engine_sources(self):
        bare = CHECKOUT / ".perfbench" / "bare-checkout"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        try:
            shutil.copy(CHECKOUT / "BENCHMARK.json", bare)
            for p in BENCH["paths"]:
                shutil.copytree(CHECKOUT / p, bare / p,
                                ignore=shutil.ignore_patterns("__pycache__"))
            rc, out = bench("--workload", BENCH["workloads"][0]["name"], "--seed", "1",
                            "--seconds", "1", "--trace", "0", cwd=bare)
            self.assertNotEqual(rc, 0)
            self.assertFalse(any(line.startswith('{"correct"') for line in out))
        finally:
            shutil.rmtree(bare, ignore_errors=True)

    def test_interrupt_removes_the_work_dir(self):
        p = subprocess.Popen(BENCH["command"] + [
            "--workload", "tail_read", "--seed", "3", "--seconds", "30", "--trace", "0",
            "--size", "smoke"], cwd=CHECKOUT, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL)
        deadline = time.time() + 120
        while time.time() < deadline and not any(
                (d / "jvm.log").exists() for d in (RUNS.iterdir() if RUNS.exists() else [])):
            time.sleep(0.5)
        time.sleep(8)
        p.send_signal(signal.SIGTERM)
        self.assertNotEqual(p.wait(timeout=60), 0)
        self.assertEqual(list(RUNS.iterdir()), [])
        ps = subprocess.run(["ps", "-eo", "args"], stdout=subprocess.PIPE, text=True).stdout
        self.assertNotIn("perfbench.GraftBench", ps)

    def test_generator_is_a_function_of_its_seed(self):
        a = gen.change_events(5, 1, 1000, 50, 10, 0.3, 0.05, 0)
        b = gen.change_events(5, 1, 1000, 50, 10, 0.3, 0.05, 0)
        c = gen.change_events(6, 1, 1000, 50, 10, 0.3, 0.05, 0)
        self.assertTrue(a.equals(b))
        self.assertFalse(a.equals(c))


if __name__ == "__main__":
    os.chdir(CHECKOUT)
    unittest.main()
