"""Tracing overhead: run a workload untraced and traced on the same seeds
and print, per end-to-end metric, the median of each side and the
traced-minus-untraced difference.

Run: python3 perfbench/overhead.py --workload batch_pipeline --seeds 1 2 3
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import harness

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    if trace:
        return json.loads(out[-2])["info"]["traced_end_to_end"]
    return {k: v["value"] for k, v in json.loads(out[-1])["metrics"].items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(harness.REPO_ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    plain = [_run(args.workload, s, seconds, 0) for s in args.seeds]
    traced = [_run(args.workload, s, seconds, 1) for s in args.seeds]
    report = {}
    for m in plain[0]:
        a = harness.median([r[m] for r in plain])
        b = harness.median([r[m] for r in traced])
        report[m] = {"untraced": a, "traced": b, "overhead": b - a}
    print(json.dumps({"workload": args.workload, "seeds": args.seeds, "metrics": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
