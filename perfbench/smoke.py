#!/usr/bin/env python3
"""Fast check of the benchmark itself: every workload ``run.py`` knows
(those in BENCHMARK.json and ``ingest``), in both modes, on tiny inputs.

    python3 perfbench/smoke.py [--seconds 2]

Each run must exit 0, be correct, and print exactly the metrics that
BENCHMARK.json names for its mode, each with its unit.  Exits 1 on the
first failure.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seconds", type=float, default=2.0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [*spec["command"], "--workload", w, "--seed", "1", "--seconds", str(args.seconds),
                   "--trace", str(trace), "--smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300, check=False)
            lines = p.stdout.strip().splitlines()
            problem = None
            if p.returncode != 0 or not lines:
                problem = f"exit {p.returncode}\n{p.stderr[-3000:]}"
            else:
                res = json.loads(lines[-1])
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                if set(res) != {"correct", "attempted", "failed", "metrics"}:
                    problem = f"keys {sorted(res)}"
                elif not res["correct"] or res["failed"]:
                    problem = f"outputs wrong: {res['failed']} of {res['attempted']} failed"
                elif got != want[trace]:
                    problem = f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want[trace]))}"
            print(f"{w:8s} trace={trace}: {'FAIL ' + problem if problem else 'ok'}", flush=True)
            if problem:
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
