"""The benchmark's own checks stay covered by the suite: ``perfbench/
selftest.py`` feeds every oracle check a damaged copy of a correct table
and exits 0 only if each check catches its damage. No Spark needed."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_selftest_passes():
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "selftest.py")],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, (proc.stdout[-3000:], proc.stderr[-3000:])
