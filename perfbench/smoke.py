"""Smoke test of the benchmark itself, at the tiny input size.

    python3 perfbench/smoke.py

For each workload: one seed, the minimum number of passes, once with
tracing off and once on.  Checks that every metric BENCHMARK.json names
is reported with its unit, that no output failed its correctness check
(failed_frac == 0), and that the traced run passes its layer-sum check
or reports the remainder.  Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", "7", "--seconds", "0", "--trace", str(trace), "--size", "tiny"]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            tag = f"{wl} trace={trace}"
            if r.returncode != 0:
                problems.append(f"{tag}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in bench[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metric names/units differ: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}")
            if res["failed"] != 0 or not res["correct"] or res["attempted"] < 1:
                problems.append(f"{tag}: {res['failed']} of {res['attempted']} outputs failed")
            if trace and "unattributed_s" not in res["metrics"]:
                problems.append(f"{tag}: no layer-sum remainder reported")
            print(f"ok  {tag}: {len(got)} metrics, {res['attempted']} checked", flush=True)
    for p in problems:
        print(f"FAIL {p}", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
