"""Tests for the benchmark's own logic: seeded inputs, summary statistics
and failure accounting.

    python3 -m unittest perfbench/test_perfbench.py

Set PERFBENCH_E2E=1 to also run the slow end-to-end fault-injection run
(builds and starts the JVM harness).
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKDIR = os.path.join(HERE, ".work", "test")


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(WORKDIR, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(WORKDIR, ignore_errors=True)

    def digests(self, workload, seed, name):
        return gen.generate(workload, seed, os.path.join(WORKDIR, name))["files"]

    def test_same_seed_gives_identical_files(self):
        for w in gen.SIZES:
            with self.subTest(workload=w):
                self.assertEqual(self.digests(w, 11, f"{w}-a"), self.digests(w, 11, f"{w}-b"))

    def test_other_seed_gives_other_files(self):
        for w in gen.SIZES:
            with self.subTest(workload=w):
                a, b = self.digests(w, 11, f"{w}-a"), self.digests(w, 12, f"{w}-b")
                self.assertEqual(sorted(a), sorted(b))
                self.assertTrue(all(a[f]["sha256"] != b[f]["sha256"] for f in a))

    def test_manifest_records_sizes(self):
        m = gen.generate("frame_queries", 3, os.path.join(WORKDIR, "m"))
        self.assertEqual(m["rows"], gen.SIZES["frame_queries"])
        self.assertEqual(m["bytes"], sum(f["bytes"] for f in m["files"].values()))


class SummaryTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.tail_percentile(99))
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_p90_is_omitted_below_one_hundred_samples(self):
        s = stats.summarise([float(i) for i in range(99)])
        self.assertEqual(s["n"], 99)
        self.assertEqual(s["p50"], 49.0)
        self.assertNotIn("tail", s)

    def test_p90_is_reported_from_one_hundred_samples(self):
        s = stats.summarise([float(i) for i in range(100)])
        self.assertEqual(s["tail_pct"], 90.0)
        self.assertAlmostEqual(s["tail"], 89.1)
        self.assertEqual(s["p50"], 49.5)


def op(job, name, start, end, digest="d", error=None):
    return {"job": job, "op": name, "start": start, "end": end, "digest": digest, "error": error}


class AccountingTest(unittest.TestCase):
    REF = {"a": "d", "b": "d", "c": "d"}
    JOBS = [{"job": 0, "start": 0, "end": 9_000_000_000},
            {"job": 1, "start": 10_000_000_000, "end": 16_000_000_000}]

    def test_thrown_and_corrupted_ops_count_as_failures_not_timings(self):
        ops = [op(0, "a", 0, 1_000_000, digest=None, error="IllegalStateException: injected"),
               op(0, "b", 1_000_000, 2_000_000, digest="d-corrupted"),
               op(0, "c", 2_000_000, 9_000_000_000),
               op(1, "a", 10_000_000_000, 12_000_000_000),
               op(1, "b", 12_000_000_000, 14_000_000_000),
               op(1, "c", 14_000_000_000, 16_000_000_000)]
        acc = stats.account(ops, self.REF, self.JOBS)
        self.assertEqual(acc["attempted"], 6)
        self.assertEqual([(f["job"], f["op"]) for f in acc["failed"]], [(0, "a"), (0, "b")])
        # the fast failed ops (1 ms) are not latency samples; neither is job 0
        self.assertEqual(acc["latencies"], [2.0, 2.0, 2.0])
        self.assertEqual(acc["job_times"], [6.0])

    def test_unknown_op_is_a_failure(self):
        acc = stats.account([op(1, "zzz", 0, 1)], self.REF, self.JOBS)
        self.assertEqual(len(acc["failed"]), 1)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1 to run")
class InjectionEndToEndTest(unittest.TestCase):
    def test_injected_faults_reach_the_result_line(self):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            "frame_queries", "--seed", "1", "--seconds", "1", "--inject"],
                           capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr)
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 2)


if __name__ == "__main__":
    unittest.main()
