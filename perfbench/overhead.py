#!/usr/bin/env python3
"""Tracing overhead: one untraced and one traced run on the same seed,
then the traced end-to-end numbers minus the untraced ones.

    python3 perfbench/overhead.py --workload tail_moves --seed 1 --seconds 8
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _run(args, trace: int) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, check=True, capture_output=True, text=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    args = ap.parse_args()
    plain = {k: v["value"] for k, v in _run(args, 0)["metrics"].items()}
    _run(args, 1)
    trace = ROOT / ".perfbench" / "traces" / f"{args.workload}-s{args.seed}.json"
    traced = json.loads(trace.read_text())["e2e_traced"]
    print(f"{'metric':24s} {'untraced':>12s} {'traced':>12s} {'overhead':>9s}")
    for k, v in plain.items():
        print(f"{k:24s} {v:12.4f} {traced[k]:12.4f} {(traced[k] - v) / v:+9.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
