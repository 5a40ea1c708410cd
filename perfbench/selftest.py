"""Self-test of the benchmark: every workload at the tiny size, untraced and
traced, must pass its output checks and print every declared metric with
its unit.

    python3 perfbench/selftest.py

Exits 0 when all runs pass, 1 otherwise.
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
    expected = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    ok = True
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            cmd = bench["command"] + ["--workload", wl, "--seed", "1", "--seconds", "1",
                                      "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=600)
            lines = proc.stdout.strip().splitlines()
            problems = []
            if proc.returncode != 0 or not lines:
                problems.append(f"exit code {proc.returncode}\n{proc.stderr[-2000:]}")
            else:
                result = json.loads(lines[-1])
                if set(result) != {"correct", "attempted", "failed", "metrics"}:
                    problems.append(f"result keys {sorted(result)}")
                if not result.get("correct") or result.get("failed") != 0:
                    problems.append(f"output checks failed\n{proc.stderr[-2000:]}")
                got = {k: v["unit"] for k, v in result.get("metrics", {}).items()}
                if got != expected[trace]:
                    problems.append(f"metrics {got} != declared {expected[trace]}")
            ok = ok and not problems
            print(f"{wl} trace={trace}: {'ok' if not problems else 'FAIL'}")
            for p in problems:
                print("  " + p)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
