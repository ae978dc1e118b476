"""Runs the Scala checks of the benchmark's machinery (MachineryCheck.scala):
tail percentile, geometric mean, self time from nested spans, job-group
attribution and the exclusion of failed operations from latency samples.

    python3 -m unittest discover -s bench/tests

Builds the program and the benchmark first when needed (from the checkout
root, like run.py).
"""
import glob
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402


class MachineryTest(unittest.TestCase):
    def test_machinery_checks(self):
        root = os.getcwd()
        build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
        classpath = build.build(root, build_dir)
        jars = build.spark_jars()
        tests = os.path.join(build_dir, "bench-tests-classes")
        build.compile_into(tests, sorted(glob.glob(os.path.join(HERE, "scala", "*.scala"))),
                           classpath[:2], jars)
        out = subprocess.run(
            ["java", "-Xmx1g", "-cp", os.pathsep.join([tests] + classpath),
             "graft.bench.MachineryCheck"],
            capture_output=True, text=True, timeout=300)
        sys.stdout.write(out.stdout)
        self.assertEqual(out.returncode, 0, out.stdout + out.stderr[-3000:])
        self.assertIn("all checks passed", out.stdout)


if __name__ == "__main__":
    unittest.main()
