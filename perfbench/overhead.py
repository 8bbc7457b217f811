#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced time for one workload and seed.

    python3 perfbench/overhead.py --workload NAME --seed N --seconds S

Run it from the repository root. It runs run.py on the same seed once with
``--trace 0`` and once with ``--trace 1``, one after the other, and prints
one JSON line with both runs' end-to-end figures and, per figure, traced
minus untraced. The per-span bookkeeping the tracer times itself is
reported by a traced run as ``trace.overhead_ms``; this script measures what
a user of the traced run pays, job-group tagging included.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def end_to_end(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"run.py --trace {trace} failed:\n{proc.stderr[-2000:]}")
    return json.loads(lines[-2])["detail"]["end_to_end"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    off = end_to_end(args.workload, args.seed, args.seconds, 0)
    on = end_to_end(args.workload, args.seed, args.seconds, 1)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "untraced": off,
                      "traced": on, "traced_minus_untraced": {k: on[k] - off[k] for k in off}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
