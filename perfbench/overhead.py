"""Tracing overhead: the end-to-end difference between a traced and an
untraced run of the same workload and seed.

Usage (from the repository root):

    python3 perfbench/overhead.py --workload window_queries --seed 1

Runs ``run.py`` with ``--trace 0`` and then ``--trace 1`` and prints the
untraced ``op_p50_ms``, the traced run's ``trace.op_p50_ms``, and the
relative difference.
One pair is one sample; the host's run-to-run spread applies to it.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True, timeout=300)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()
    plain = _run(args.workload, args.seed, args.seconds, 0)
    traced = _run(args.workload, args.seed, args.seconds, 1)
    a, b = plain["op_p50_ms"]["value"], traced["trace.op_p50_ms"]["value"]
    print(json.dumps({"metric": "op_p50_ms", "untraced": a, "traced": b,
                      "relative_change": (b - a) / a if a else None}))


if __name__ == "__main__":
    main()
