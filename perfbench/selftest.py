"""Fast self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json on sf0.001 inputs for one timed
pass, untraced and traced, and checks that the last stdout line names
every end-to-end (untraced) or per-layer (traced) metric with its unit,
and that no query raised or failed its oracle check: the printed
``failed_frac`` line reads 0 with unit ``fraction``.
Exits non-zero and lists the problems otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _check(workload: str, trace: int, expected: list[dict]) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=300)
    tag = f"{workload} trace={trace}"
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return [f"{tag}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(lines[-1])
    problems = [line for line in lines if line.startswith("FAILED")]
    # failed_frac is 0 on a correct run, and BENCHMARK.json compares
    # metrics as shares of their median, so failed_frac is printed as its
    # own line and carried by the result's failed/attempted counts.
    frac = [line.split() for line in lines if line.startswith("failed_frac ")]
    if (len(frac) != 1 or frac[0][2] != "fraction" or float(frac[0][1]) != 0
            or result["failed"] != 0 or not result["correct"]):
        problems.append(f"{tag}: failed_frac = "
                        f"{result['failed']}/{result['attempted']}")
    for m in expected:
        got = result["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(
                got.get("value"), (int, float)):
            problems.append(f"{tag}: metric {m['name']} [{m['unit']}] "
                            f"missing or malformed: {got}")
    print(f"{tag}: {'ok' if not problems else 'FAIL'}", flush=True)
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for wl in spec["workloads"]:
        problems += _check(wl["name"], 0, spec["end_to_end"])
        problems += _check(wl["name"], 1, spec["per_layer"])
    for p in problems:
        print(p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
