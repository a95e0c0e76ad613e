"""Smoke test of the benchmark's own code: every workload, untraced and
traced, at tiny sizes and a fixed seed, with every output check on.

    python3 -m pytest perfbench/test_smoke.py
"""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_smoke_every_workload_passes_its_checks():
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=1200,
    )
    assert out.returncode == 0, out.stdout + out.stderr[-4000:]
    assert out.stdout.count(": ok") == 6, out.stdout
