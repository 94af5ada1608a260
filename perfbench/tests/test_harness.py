"""Builds the harness and runs its JVM self-checks (perfbench/scala/SelfTest.scala):
the ETL ground truth on a tiny corpus with injected 503s and 404s, and the
job-to-phase attribution of q77 (builder) and q02 (exec).

Run: python3 -m unittest discover -s perfbench/tests
"""
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import build  # noqa: E402
import gen_tables  # noqa: E402


class HarnessSelfTest(unittest.TestCase):
    def test_self_checks(self):
        classes = build.build()
        work = build.build_dir() / "selftest"
        shutil.rmtree(work, ignore_errors=True)
        gen_tables.main(str(work / "tables"), 0.001)
        proc = subprocess.run(build.java_cmd(classes, work) + ["perfbench.SelfTest", str(work / "tables")],
                              capture_output=True, text=True, timeout=600)
        print(proc.stdout)
        self.assertEqual(proc.returncode, 0, proc.stdout + proc.stderr[-3000:])
        self.assertNotIn("FAIL", proc.stdout)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
