"""Tracing overhead per workload: run each workload untraced and traced
with the same seed and print how much the traced end-to-end numbers
moved.

    python3 perfbench/overhead.py --seed 1 --seconds 10 [workload ...]

Run from the repository root; the default is the workloads listed in
BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _report(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, check=True)
    return json.loads(p.stdout.strip().splitlines()[-2])["end_to_end"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args(argv)
    names = args.workloads
    if not names:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = [w["name"] for w in json.load(f)["workloads"]]
    for w in names:
        plain = _report(w, args.seed, args.seconds, 0)
        traced = _report(w, args.seed, args.seconds, 1)
        print(json.dumps({"workload": w, "overhead": {
            k: {"untraced": plain[k], "traced": traced[k],
                "change": traced[k] / plain[k] - 1.0}
            for k in plain}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
