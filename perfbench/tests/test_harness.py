"""Self-tests of the JVM harness: runs perfbench.SelfTest (which checks the
output digest's order-insensitivity itself) and checks that its deliberately
failing queries are counted as failed and left out of every timing.

Builds the engine and harness first if needed (about half a minute).
Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class HarnessTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        build.build()
        cls.out = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(HERE, ".build"))
        tmp = os.path.join(cls.out, "tmp")
        os.makedirs(tmp)
        done = subprocess.run(run.java("perfbench.SelfTest", [cls.out], tmp),
                              capture_output=True, text=True, timeout=170)
        cls.stderr = done.stderr
        cls.code = done.returncode
        path = os.path.join(cls.out, "records.jsonl")
        cls.records = []
        if os.path.exists(path):
            with open(path) as fh:
                cls.records = [json.loads(line) for line in fh]

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.out, ignore_errors=True)

    def test_digest_checks_pass(self):
        self.assertEqual(self.code, 0, self.stderr[-3000:])

    def test_failing_queries_are_counted_and_untimed(self):
        attempted, failed, bad = stats.failures(self.records)
        self.assertEqual(bad, {"mismatch", "throws_build", "throws_action"})
        # each failing query fails its untimed check once and never runs again
        self.assertEqual(failed, 3)
        execs = [r for r in self.records if r["type"] == "exec"]
        self.assertTrue(execs)
        self.assertEqual({r["query"] for r in execs}, {"good"})
        self.assertEqual(attempted, 4 + len(execs))
        m = stats.end_to_end(self.records)
        self.assertAlmostEqual(m["failed_frac"][0], 3 / attempted)


if __name__ == "__main__":
    unittest.main()
