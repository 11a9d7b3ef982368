"""The benchmark's own smoke test (perfbench/smoke.py) as a tier-1 test,
so a change that breaks the API the benchmark drives fails here, not
only when the benchmark runs."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_smoke():
    r = subprocess.run(
        [sys.executable, os.path.join("perfbench", "smoke.py")],
        cwd=ROOT, capture_output=True, text=True, timeout=1500,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-4000:]
