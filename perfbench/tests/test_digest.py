"""The result digest ignores row order and partitioning (JVM self-test)."""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class DigestTest(unittest.TestCase):
    def test_selftest_passes(self):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--selftest"], stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=600)
        lines = [l for l in r.stdout.splitlines() if l.startswith("[selftest]")]
        self.assertEqual(r.returncode, 0, "\n".join(lines) or r.stdout[-2000:])
        self.assertTrue(lines and all(" ok " in l for l in lines), lines)


if __name__ == "__main__":
    unittest.main()
