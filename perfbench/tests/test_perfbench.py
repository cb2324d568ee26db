"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root. The fast tests cover the output comparison,
the trace arithmetic and the JVM's result digest (which needs the
benchmark's build); the slow ones (a few minutes; skipped when
PERFBENCH_FAST=1) run the benchmark itself and check that a corrupted
result and a missing input are failures, not fast successes, and that
the listener attribution gives a lane the job count `graft.BenchOne
--jobs` reports.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SLOW = os.environ.get("PERFBENCH_FAST") != "1"


def bench(workload, seed, env=None, seconds=1):
    """(exit code, parsed last stdout line or None, stderr)."""
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        env={**os.environ, **(env or {})})
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


class CompareTest(unittest.TestCase):
    COLS = ["a", "b"]
    ROWS = [[1, 0.5], [2, 1.25]]

    def test_equal_in_any_row_order(self):
        self.assertIsNone(check.compare(
            ["a", "b"], [[2, 1.25], [1, 0.5]], ["b", "a"],
            [[0.5, 1], [1.25, 2]]))

    def test_float_noise_tolerated(self):
        self.assertIsNone(check.compare(
            self.COLS, [[1, 0.5 + 1e-13], [2, 1.25]], self.COLS, self.ROWS))

    def test_dropped_row_is_wrong(self):
        self.assertIn("rows", check.compare(
            self.COLS, self.ROWS[:1], self.COLS, self.ROWS))

    def test_changed_value_is_wrong(self):
        self.assertIn("differs", check.compare(
            self.COLS, [[1, 0.5], [2, 1.5]], self.COLS, self.ROWS))

    def test_fingerprint_ignores_row_order_only(self):
        self.assertEqual(check.fingerprint(self.ROWS),
                         check.fingerprint(self.ROWS[::-1]))
        self.assertNotEqual(check.fingerprint(self.ROWS),
                            check.fingerprint(self.ROWS[:1]))

    def test_near_dup_oracle_keeps_lane_pipeline(self):
        lane = ("WITH sh AS (x), bands AS (y), cb AS (SELECT 1), "
                "bn AS (z), jp AS (SELECT 2) SELECT 3")
        sql = check.near_dup_sql(lane)
        self.assertTrue(sql.startswith("WITH sh AS (x), bands AS (y), bb AS"))
        self.assertTrue(sql.endswith("jp AS (SELECT 2) SELECT 3"))
        self.assertNotIn("cb AS", sql)


class ArithmeticTest(unittest.TestCase):
    def test_union_clips_and_merges(self):
        self.assertEqual(run.union_ms([(0, 10), (5, 20), (30, 40)], 2, 35),
                         23)

    def test_self_time(self):
        rep = {"passes": [{"start_ms": 0, "end_ms": 100, "dur_s": 0.1}],
               "calls": [{"id": 0, "pass": 0, "module": "io", "key": "k",
                          "start_ms": 10, "end_ms": 60}],
               "jobs": [{"id": 7, "call": 0, "start_ms": 20, "end_ms": 40,
                         "stages": [3]}],
               "stages": [{"id": 3, "call": 0, "start_ms": 25,
                           "end_ms": 35}]}
        by_id = {s["id"]: s for s in run.spans("w", rep)}
        self.assertEqual(by_id["p0"]["self_ms"], 50)
        self.assertEqual(by_id["c0"]["self_ms"], 30)
        self.assertEqual(by_id["j7"]["self_ms"], 10)
        self.assertEqual(by_id["s3"]["parent"], "j7")

    def test_format_size_matches_discovery(self):
        self.assertEqual(gen.format_size(1000), "1000 B")
        self.assertEqual(gen.format_size(46042), "44.96 KB")
        self.assertEqual(gen.format_size(3 * 1024 * 1024), "3.0 MB")


class DigestTest(unittest.TestCase):
    """The JVM's result digest (``Canon``) ignores the last bits of a
    double, as ``check.fingerprint`` does. Needs the benchmark's build,
    which the first run of ``run.py`` makes (``run.build``)."""

    def digests(self, *values):
        jars = run.spark_jars()
        cp = f"{os.path.abspath(run.build(jars))}:{os.path.join(jars, '*')}"
        out = subprocess.run(
            ["java", "-cp", cp, "graft.perfbench.Canon"] +
            [repr(v) for v in values],
            stdout=subprocess.PIPE, text=True, check=True).stdout
        return out.split()

    def test_last_bits_of_a_double_ignored(self):
        a, b, c = self.digests(0.1 + 0.2, 0.3, 0.31)
        self.assertNotEqual(0.1 + 0.2, 0.3)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


@unittest.skipUnless(SLOW, "PERFBENCH_FAST=1")
class EndToEndTest(unittest.TestCase):
    def test_corrupted_result_fails(self):
        rc, res, _ = bench("stream_state", 5,
                           {"PERFBENCH_CORRUPT": "streaming.near_dup"})
        self.assertEqual(rc, 1)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)

    def test_corrupted_later_call_fails(self):
        # the second call of a key must match the first, checked one
        rc, res, err = bench("procedures", 5,
                             {"PERFBENCH_CORRUPT": "exec.script@2"},
                             seconds=45)
        self.assertGreaterEqual(res["attempted"], 36, "expected two passes")
        self.assertEqual(rc, 1, err[-2000:])
        self.assertFalse(res["correct"])

    def test_missing_input_fails(self):
        sf = os.path.expanduser("~/testdata/sf0.1")
        sf = os.environ.get("PERFBENCH_SF_DIR", sf)
        seed = 424242
        cache = os.path.join(run.BUILD, "inputs")
        d = gen.generate("procedures", sf, cache, seed)
        gen.generate("procedures", os.path.join(os.path.dirname(sf),
                                                "sf0.001"),
                     cache, seed, warm=True)
        try:
            os.remove(os.path.join(d, "stage", "events_slice.xlsx"))
            rc, res, _ = bench("procedures", seed)
            self.assertEqual(rc, 1)
            self.assertFalse(res["correct"])
            self.assertGreaterEqual(res["failed"], 1)
        finally:
            shutil.rmtree(os.path.dirname(d), ignore_errors=True)

    def test_attribution_matches_benchone(self):
        jars = run.spark_jars()
        classes = os.path.abspath(run.build(jars))
        sf = os.environ.get("PERFBENCH_SF_DIR",
                            os.path.expanduser("~/testdata/sf0.1"))
        cp = f"{classes}:{os.path.join(jars, '*')}"
        opens = [x for p in run.JDK_OPENS
                 for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        tmp = os.path.abspath(os.path.join(run.BUILD, "selftest-tmp"))
        os.makedirs(tmp, exist_ok=True)
        jvm = ["java"] + opens + [f"-Xmx{run.driver_mem()}",
                                  f"-Djava.io.tmpdir={tmp}",
                                  f"-Dspark.local.dir={tmp}", "-cp", cp]
        env = {**os.environ, "SPARK_GRAFT_CPUS": run.cpus(),
               "SPARK_GRAFT_SF_DIR": sf}
        lane = "exec_script_audit"
        try:
            ours = subprocess.run(
                jvm + ["graft.perfbench.Attribution", lane, sf],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, env=env, cwd=tmp).stdout
            theirs = subprocess.run(
                jvm + ["graft.BenchOne", "--jobs", lane],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, env=env, cwd=tmp).stdout
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        got = re.search(r"ATTRIBUTED \S+ jobs=(\d+)", ours)
        want = re.search(rf"BENCHJOBS {lane} .*jobs=(\d+)", theirs)
        self.assertIsNotNone(got, ours)
        self.assertIsNotNone(want, theirs)
        self.assertGreater(int(want.group(1)), 0)
        self.assertEqual(int(got.group(1)), int(want.group(1)))


if __name__ == "__main__":
    unittest.main()
