#!/usr/bin/env python3
"""Self-test: run every workload once untraced and once traced, with a
one-second window (one cycle), and check that each run succeeds, passes
its output checks and emits exactly the metrics BENCHMARK.json names.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    wanted = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    bad = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "1",
                   "--seconds", "1", "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, timeout=600)
            label = f"{w['name']} --trace {trace}"
            if proc.returncode != 0:
                bad.append(f"{label}: exit {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != wanted[trace]:
                bad.append(f"{label}: metrics {got} != {wanted[trace]}")
            if not result["correct"] or result["failed"]:
                bad.append(f"{label}: output checks failed: {result}")
            print(f"ok {label}: {result['attempted']} ops", flush=True)
    for b in bad:
        print(f"FAIL {b}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
