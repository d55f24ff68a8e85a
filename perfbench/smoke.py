"""Smoke test of the benchmark: every workload at a tiny size, untraced and
traced, must print every metric BENCHMARK.json names with error_rate 0.

    python3 perfbench/smoke.py

Exits 0 when all runs pass; prints the failing runs otherwise.
"""

from __future__ import annotations

import json
import subprocess
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = {0: [m["name"] for m in spec["end_to_end"]],
              1: [m["name"] for m in spec["per_layer"]]}
    failures = []
    for workload in (w["name"] for w in spec["workloads"]):
        for traced in (0, 1):
            cmd = [*spec["command"], "--workload", workload, "--seed", "7",
                   "--seconds", "1", "--trace", str(traced), "--size", "smoke"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=600)
            lines = proc.stdout.strip().splitlines()
            label = f"{workload} trace={traced}"
            if proc.returncode != 0 or not lines:
                failures.append(f"{label}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            missing = [n for n in wanted[traced] if n not in result["metrics"]]
            printed = [n for n in wanted[traced] + ["error_rate"]
                       if not any(line.split()[:1] == [n] for line in lines)]
            if result["failed"] or not result["correct"] or missing or printed:
                failures.append(f"{label}: failed={result['failed']} "
                                f"missing={missing} not printed={printed}")
            print(f"{label}: ok, {result['attempted']} ops", flush=True)
    for f in failures:
        print("FAIL", f)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
