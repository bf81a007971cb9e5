"""Tracing overhead: one workload and seed run untraced, then traced.

Usage (from the repository root):

    python3 perfbench/overhead.py --workload catalog_headline --seed 1 --seconds 5

Prints one JSON line with each run's ``wall_s`` and ``op_p50_s`` and the
traced-minus-untraced differences. Both runs are whole ``run.py``
processes, so each pays its own session start and warm-up.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
PREFIX = "perfbench detail: "


def _detail(args, trace: int) -> dict:
    cmd = [sys.executable, RUN, "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout
    line = next(ln for ln in out.splitlines() if ln.startswith(PREFIX))
    return json.loads(line[len(PREFIX):])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args()
    plain, traced = _detail(args, 0), _detail(args, 1)
    keys = ("wall_s", "op_p50_s")
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "untraced": {k: plain["end_to_end"][k] for k in keys},
        "traced": {k: traced["end_to_end"][k] for k in keys},
        "ops": {"untraced": plain["ops"], "traced": traced["ops"]},
    }
    result["overhead"] = {
        k: round(result["traced"][k] - result["untraced"][k], 6) for k in keys
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
